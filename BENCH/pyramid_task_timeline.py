#!/usr/bin/env python3
"""Job and task timeline of one warm pyramid build.

Sets up perfbench's ``pyramid_build`` workload (same seed-derived pages,
same session config, same cold first build), then runs one more build
(extract → convert → build_from_converted → tile_count, untraced).  For
every job submitted during the build (the engine's pool threads
included) it prints the submit and complete offsets from the build's
start, the task count and the call site, then the wall of every task
from the status store: its duration (launch to finish, so Python worker
hand-off included) and its executor run time.

    python3 BENCH/pyramid_task_timeline.py [--seed 1]

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
sys.path.insert(0, HERE)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def task_walls(store, job) -> list[tuple[int, int]]:
    """(duration ms, executor run ms) of every task of ``job``'s stages
    that ran (skipped stages have no tasks)."""
    from py4j.protocol import Py4JJavaError
    out = []
    for sid in _seq(job.stageIds()):
        try:
            attempt = store.lastStageAttempt(sid).attemptId()
        except Py4JJavaError:  # a skipped stage has no data
            continue
        for t in _seq(store.taskList(sid, attempt, 100_000)):
            dur = t.duration().get() if t.duration().isDefined() else -1
            m = t.taskMetrics()
            run = m.get().executorRunTime() if m.isDefined() else -1
            out.append((dur, run))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    import session
    from spans import Tracer
    from spatial_join_timeline import _opt_ms
    from workloads import PyramidBuild

    work = os.path.join(ROOT, ".bench_work", f"ptimeline-{os.getpid()}")
    os.makedirs(work)
    session.confine_env(work, ROOT)
    spark = None
    try:
        spark = session.make_session(work, session.host_cores())
        wl = PyramidBuild(spark, args.seed, work, Tracer(spark, enabled=False))
        wl.setup()  # includes the cold first build
        store = spark.sparkContext._jsc.sc().statusStore()
        t0_ms = int(time.time() * 1000)
        _, _, n_tiles, wall = wl._build(0)
        time.sleep(0.5)  # let the listener bus drain the last job events
        jobs = [j for j in _seq(store.jobsList(None))
                if _opt_ms(j.submissionTime(), t0_ms) >= 0]
        jobs.sort(key=lambda j: j.jobId())
        print(f"== warm build: wall {1000 * wall:.0f} ms, {len(jobs)} jobs, "
              f"{sum(j.numCompletedTasks() for j in jobs)} tasks, {n_tiles} tiles")
        print(f"{'job':>5} {'submit_ms':>9} {'done_ms':>8} {'tasks':>5}  "
              "call site / task duration:run ms")
        for j in jobs:
            print(f"{j.jobId():>5} {_opt_ms(j.submissionTime(), t0_ms)!s:>9} "
                  f"{_opt_ms(j.completionTime(), t0_ms)!s:>8} "
                  f"{j.numCompletedTasks():>5}  {j.name()[:60]}")
            walls = task_walls(store, j)
            print(" " * 32 + " ".join(f"{d}:{r}" for d, r in walls))
    finally:
        if spark is not None:
            session.stop_session(spark, session.process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
