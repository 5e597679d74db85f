#!/usr/bin/env python3
"""Wall, per-task walls and Python workers of the pyramid build's ingest
job alone, fused against two-stage.

Sets up perfbench's ``pyramid_build`` inputs (same seed-derived pages,
same session config), then times the ingest job of
``build_from_converted`` by itself: the features write with the
engine's observed aggregates (``_ingest_aggs``), nothing after it.
Three ways to feed it alternate rep by rep:

- ``fused``: ``features_from_json_df(extract_geo_features_df(pages))``,
  the one-stage Arrow ingest every caller gets;
- ``derived``: the same with a ``where`` on the extract frame, so the
  extract and the convert run as two stages (the plan before fusion);
- ``persisted``: a persisted extract frame, as perfbench's traced run
  builds it (two stages, the extract's rows cached in the same job).

For each way it prints the median wall and quartiles over the reps,
the per-task walls (duration:executor run ms) of its last rep, and two
worker counts read from /proc after each job: the Python worker
processes alive under the JVM, and those whose CPU time advanced
during the job (the workers the job held).  Idle workers stay alive
for a minute, so the first count carries the other ways' workers once
they have run; the second does not.

    python3 BENCH/ingest_timeline.py [--seed 1] [--reps 9]

Run from the repository root; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
sys.path.insert(0, HERE)

WAYS = ("fused", "derived", "persisted")


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    return q[0], statistics.median(xs), q[2]


def python_workers(jvm: int) -> dict[int, int]:
    """{pid: utime + stime ticks} of the Python workers under the JVM:
    Python processes whose parent is a Python process (the daemon
    forks them)."""
    from session import process_tree
    procs = {}
    for pid in process_tree(jvm)[1:]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        procs[pid] = (comm, int(fields[1]), int(fields[11]) + int(fields[12]))
    return {pid: ticks for pid, (comm, ppid, ticks) in procs.items()
            if comm.startswith("python") and ppid in procs
            and procs[ppid][0].startswith("python")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=9)
    args = ap.parse_args(argv)

    import session
    from pyramid_task_timeline import _seq, task_walls
    from pyspark.sql import Observation
    from spatial_join_timeline import _opt_ms
    from workloads import PyramidBuild

    from geojson_vt_spark.engine import SparkTileEngine
    from geojson_vt_spark.pipeline import features_from_json_df
    from geojson_vt_spark.sources.corpus import (extract_geo_features_df,
                                                 synth_pages_df)

    work = os.path.join(ROOT, ".bench_work", f"itimeline-{os.getpid()}")
    os.makedirs(work)
    session.confine_env(work, ROOT)
    spark = None
    try:
        spark = session.make_session(work, session.host_cores())
        jvm = spark.sparkContext._gateway.proc.pid
        pages_path = os.path.join(work, "pages")
        synth_pages_df(spark, PyramidBuild.PAGES, seed=args.seed) \
            .write.parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        opts = PyramidBuild.OPTS
        aggs = SparkTileEngine(spark, opts,
                               workdir=os.path.join(work, "eng"))._ingest_aggs()
        store = spark.sparkContext._jsc.sc().statusStore()

        def ingest(way: str, rep: int):
            ext = extract_geo_features_df(pages)
            if way == "derived":
                ext = ext.where("input_ord >= 0")
            elif way == "persisted":
                ext = ext.persist()
            feats = features_from_json_df(ext, opts)
            before = python_workers(jvm)
            t0_ms = int(time.time() * 1000)
            t0 = time.monotonic()
            obs = Observation()
            (feats.observe(obs, *aggs).write.mode("overwrite")
             .parquet(os.path.join(work, f"features-{way}-{rep}")))
            obs.get
            wall = time.monotonic() - t0
            after = python_workers(jvm)
            if way == "persisted":
                ext.unpersist()
            busy = sum(1 for p, t in after.items() if t > before.get(p, 0))
            time.sleep(0.5)  # let the listener bus drain the job events
            jobs = [j for j in _seq(store.jobsList(None))
                    if _opt_ms(j.submissionTime(), t0_ms) >= 0]
            walls = [w for j in jobs for w in task_walls(store, j)]
            return wall, len(after), busy, len(jobs), walls

        for way in WAYS:  # warm-up: workers, codegen, the page cache
            ingest(way, -1)
        stats = {w: [] for w in WAYS}
        for rep in range(args.reps):
            order = WAYS if rep % 2 == 0 else WAYS[::-1]
            for way in order:
                stats[way].append(ingest(way, rep))

        print(f"== ingest job alone, seed {args.seed}, {PyramidBuild.PAGES} "
              f"pages, {args.reps} alternating reps")
        print(f"{'way':<10} {'median_ms':>9} {'q1_ms':>6} {'q3_ms':>6} "
              f"{'jobs':>4} {'workers_live':>12} {'workers_busy':>12}")
        for way in WAYS:
            runs = stats[way]
            q1, med, q3 = _quartiles([1000 * r[0] for r in runs])
            live = sorted({r[1] for r in runs})
            busy = sorted({r[2] for r in runs})
            print(f"{way:<10} {med:>9.0f} {q1:>6.0f} {q3:>6.0f} "
                  f"{runs[-1][3]:>4} {'/'.join(map(str, live)):>12} "
                  f"{'/'.join(map(str, busy)):>12}")
        for way in WAYS:
            print(f"{way} task duration:run ms (last rep): "
                  + " ".join(f"{d}:{r}" for d, r in stats[way][-1][4]))
    finally:
        if spark is not None:
            session.stop_session(spark, session.process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
