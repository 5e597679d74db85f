#!/usr/bin/env python3
"""Job timeline of one warm point-in-polygon call and one warm kNN call.

Sets up perfbench's ``spatial_join`` workload (same seed-derived inputs,
same session config, same cold first join), then runs one more PIP call
(``point_in_polygon_join`` + the benchmark's aggregate) and one more kNN
call (``knn_join`` + collect), each under its own job group.  For every
job of each call it prints the submit and complete offsets from the call's
start, the job's task count and its call site, read from the status
store; then the call's wall, job count and main-thread Py4J call count.
The gap before a call's first job is driver-side DataFrame building.

    python3 BENCH/spatial_join_timeline.py [--seed 1]

Run from the repository root; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time

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

        def pip():
            point_in_polygon_join(wl.points, wl.polys, res=wl.PIP_RES,
                                  salt_n=wl.SALT).agg(
                F.count(F.lit(1)), F.sum("point_id"), F.sum("poly_id")).first()

        def knn():
            knn_join(wl.points, wl.queries, k=wl.K, res=wl.KNN_RES).select(
                "query_id", "point_id", "dist", "rank").collect()

        counter = Py4JCounter()
        run_call(spark, "timeline-pip", pip, counter)
        run_call(spark, "timeline-knn", knn, counter)
    finally:
        if counter is not None:
            counter.close()
        if spark is not None:
            session.stop_session(spark, session.process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
