#!/usr/bin/env python3
"""Job timeline of a cold and a warm point-in-polygon call and one warm
kNN call, and the CPU of the PIP refine kernel.

Sets up perfbench's ``spatial_join`` workload (same seed-derived inputs,
same session config, same cold first join).  It then runs three calls,
each under its own job group:

- a cold PIP call (``point_in_polygon_join`` + the benchmark's
  aggregate) on a freshly written copy of the polygon input, so the
  prepared polygon side is built in the call;
- a warm PIP call on the workload's polygon input;
- a warm kNN call (``knn_join`` + collect).

For every job of each call it prints the submit and complete offsets
from the call's start, the job's task count and its call site, read
from the status store; then the call's wall, job count and main-thread
Py4J call count.  The gap before a call's first job is driver-side
DataFrame building.

Last it collects the PIP candidates (cell join + bbox prefilter) and
times the refine on the driver in the session's 20k-row Arrow batches:
CPU seconds of the per-polygon ``points_in_ring`` loop the refine used
to run, and of ``points_in_rings``, the one-pass kernel it runs now.

    python3 BENCH/spatial_join_timeline.py [--seed 1]

Run from the repository root; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


class Py4JCounter:
    """Counts main-thread Py4J commands (each is one gateway round trip)."""

    def __init__(self):
        import threading
        from py4j.clientserver import ClientServerConnection
        self.n = 0
        self._cls = ClientServerConnection
        orig = self._orig = ClientServerConnection.send_command
        main = threading.main_thread()

        def send_command(conn, command):
            if threading.current_thread() is main:
                self.n += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command

    def close(self) -> None:
        self._cls.send_command = self._orig


def _opt_ms(opt, t0_ms: int):
    return opt.get().getTime() - t0_ms if opt.isDefined() else None


def timeline(spark, group: str, t0_ms: int) -> list[tuple]:
    """(job id, submit ms, complete ms, tasks, call site) per job."""
    time.sleep(0.5)  # let the listener bus drain the last job events
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    rows = []
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        rows.append((jid, _opt_ms(job.submissionTime(), t0_ms),
                     _opt_ms(job.completionTime(), t0_ms), job.numTasks(),
                     job.name()[:60]))
    return rows


def run_call(spark, group: str, fn, counter: Py4JCounter) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    counter.n = 0
    t0_ms = int(time.time() * 1000)
    t = time.monotonic()
    try:
        fn()
    finally:
        wall = time.monotonic() - t
        calls = counter.n
        sc.setJobGroup("timeline-idle", "")
    rows = timeline(spark, group, t0_ms)
    print(f"== {group}: wall {1000 * wall:.0f} ms, {len(rows)} jobs, "
          f"{calls} main-thread Py4J calls")
    print(f"{'job':>5} {'submit_ms':>9} {'done_ms':>8} {'tasks':>5}  call site")
    for jid, sub, done, tasks, site in rows:
        print(f"{jid:>5} {sub!s:>9} {done!s:>8} {tasks:>5}  {site}")


def _loop_refine(pol, px, py, rings) -> np.ndarray:
    """The refine's former per-polygon loop: one ``points_in_ring``
    call per polygon of the batch."""
    from geojson_vt_spark.operators import points_in_ring
    order = np.argsort(pol, kind="stable")
    pols = pol[order]
    brk = np.concatenate(([0], np.nonzero(pols[1:] != pols[:-1])[0] + 1,
                          [len(pols)]))
    keep = np.zeros(len(pols), dtype=bool)
    for lo, hi in zip(brk[:-1], brk[1:]):
        xs, ys = rings[int(pols[lo])]
        sel = order[lo:hi]
        keep[lo:hi] = points_in_ring(px[sel], py[sel], xs, ys)
    inside = np.zeros(len(pol), dtype=bool)
    inside[order] = keep
    return inside


def refine_cpu(spark, wl, batch_rows: int = 20_000, reps: int = 5) -> None:
    """Median CPU of the loop and the one-pass refine over the PIP
    candidates, in ``batch_rows``-row batches."""
    import pyarrow.parquet as pq

    from geojson_vt_spark.operators.spatial_join import (
        _BBOX_PREFILTER, _point_cells, _poly_bbox_cells, _RingTable)

    cand = (_point_cells(wl.points, wl.PIP_RES)
            .join(_poly_bbox_cells(wl.polys, wl.PIP_RES), "cell")
            .where(_BBOX_PREFILTER)
            .select("poly_id", "px", "py").toArrow())
    pol = cand.column("poly_id").to_numpy()
    px = cand.column("px").to_numpy()
    py = cand.column("py").to_numpy()
    polys = pq.read_table(wl.polys_path)
    table = _RingTable.from_arrow(polys.column("poly_id").to_numpy(),
                                  polys.column("pxs").combine_chunks(),
                                  polys.column("pys").combine_chunks())
    rings = {int(i): (table.xs[a:b], table.ys[a:b])
             for i, a, b in zip(table.ids, table.off[:-1], table.off[1:])}
    batches = [slice(lo, lo + batch_rows) for lo in range(0, len(pol), batch_rows)]

    def cpu(fn):
        runs, out = [], None
        for _ in range(reps):
            t = time.process_time()
            out = np.concatenate([fn(pol[b], px[b], py[b]) for b in batches])
            runs.append(time.process_time() - t)
        return statistics.median(runs), out

    loop_s, loop_in = cpu(lambda a, x, y: _loop_refine(a, x, y, rings))
    kern_s, kern_in = cpu(table.contains)
    assert np.array_equal(loop_in, kern_in), "kernel differs from the loop"
    print(f"== refine CPU over {len(pol):,} candidates in {len(batches)} "
          f"batches ({int(kern_in.sum()):,} pairs), median of {reps}:")
    print(f"   points_in_ring loop {1000 * loop_s:.0f} ms, "
          f"points_in_rings {1000 * kern_s:.0f} ms")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import session
    from pyspark.sql import functions as F
    from spans import Tracer
    from workloads import SpatialJoin

    from geojson_vt_spark.operators import knn_join, point_in_polygon_join

    work = os.path.join(ROOT, ".bench_work", f"timeline-{os.getpid()}")
    os.makedirs(work)
    session.confine_env(work, ROOT)
    spark = None
    counter = None
    try:
        spark = session.make_session(work, session.host_cores())
        wl = SpatialJoin(spark, args.seed, work, Tracer(spark, enabled=False))
        wl.setup()  # includes the cold first join

        def pip(polys):
            point_in_polygon_join(wl.points, polys, res=wl.PIP_RES,
                                  salt_n=wl.SALT).agg(
                F.count(F.lit(1)), F.sum("point_id"), F.sum("poly_id")).first()

        def knn():
            knn_join(wl.points, wl.queries, k=wl.K, res=wl.KNN_RES).select(
                "query_id", "point_id", "dist", "rank").collect()

        fresh = os.path.join(work, "polys-fresh")
        shutil.copytree(wl.polys_path, fresh)
        fresh_polys = spark.read.parquet(fresh)

        counter = Py4JCounter()
        run_call(spark, "timeline-pip-cold", lambda: pip(fresh_polys), counter)
        run_call(spark, "timeline-pip", lambda: pip(wl.polys), counter)
        run_call(spark, "timeline-knn", knn, counter)
        counter.close()
        counter = None
        refine_cpu(spark, wl)
    finally:
        if counter is not None:
            counter.close()
        if spark is not None:
            session.stop_session(spark, session.process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
