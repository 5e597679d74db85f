#!/usr/bin/env python3
"""Fixed cost of one warm 1-row Python stage, with and without the
package's worker prep (``geojson_vt_spark._worker._worker_prep``).

In perfbench's session config it times ``spark.range(1).<api>(f).collect()``
for ``api`` in mapInPandas / mapInArrow and ``f`` a bare pass-through
or the same pass-through that calls ``_worker_prep()`` first, against
``spark.range(1).collect()`` (the same plan with no Python stage).
Variants alternate within each round, in a rotating order.

Each Python variant runs in its own worker pool (Spark keys pools by
the function's environment, so a pool label in ``sc.environment`` at
DataFrame-build time separates them); a prep task therefore never
changes what a bare task finds.  Per variant it reports the median
[quartiles] wall of the timed runs, the zipimporters in the task's
``sys.path_importer_cache`` at function entry, and, from an untimed
probe task in the same pool after each timed run, the time of one
``importlib.invalidate_caches()`` in that state: the call every task
makes before its function runs (pyspark ``worker_util.setup_spark_files``).

    python3 BENCH/worker_fixed_cost.py [--runs 15] [--warmup 5]

Run from the repository root; the work directory is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

APIS = ("mapInPandas", "mapInArrow")


def _quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], statistics.median(xs), q[2]


def _stage_fns(prep: bool):
    """(timed, probe) task functions of one variant.  ``timed`` passes
    its row through and reports the entry zipimporter count; ``probe``
    also times one invalidate_caches() before the prep."""
    from geojson_vt_spark._worker import _worker_prep

    def n_zip():
        import sys
        import zipimport
        return sum(isinstance(f, zipimport.zipimporter)
                   for f in sys.path_importer_cache.values())

    def timed(batches):
        n = n_zip()
        if prep:
            _worker_prep()
        for b in batches:
            yield _out(b, n, 0.0)

    def probe(batches):
        import importlib
        n = n_zip()
        t = time.perf_counter()
        importlib.invalidate_caches()
        inv_ms = 1000 * (time.perf_counter() - t)
        if prep:
            _worker_prep()
        for b in batches:
            yield _out(b, n, inv_ms)

    return timed, probe


def _out(batch, n_zip: int, inv_ms: float):
    """One output batch of (id, n_zip, inv_ms) from a pandas frame or an
    Arrow record batch, in the type it came in."""
    import pyarrow as pa
    if isinstance(batch, pa.RecordBatch):
        k = batch.num_rows
        return pa.RecordBatch.from_pydict({
            "id": batch.column("id"), "n_zip": [n_zip] * k,
            "inv_ms": [inv_ms] * k})
    return batch.assign(n_zip=n_zip, inv_ms=inv_ms)


_SCHEMA = "id long, n_zip long, inv_ms double"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=15)
    ap.add_argument("--warmup", type=int, default=5)
    args = ap.parse_args(argv)

    import session

    work = os.path.join(ROOT, ".bench_work", f"fixedcost-{os.getpid()}")
    os.makedirs(work)
    session.confine_env(work, ROOT)
    spark = None
    try:
        spark = session.make_session(work, session.host_cores())
        sc = spark.sparkContext
        base = spark.range(1, numPartitions=1)
        plans = {"no_python": (base, None)}
        for api in APIS:
            for prep in (False, True):
                name = f"{api}_{'prep' if prep else 'bare'}"
                timed, probe = _stage_fns(prep)
                sc.environment["GVT_FIXED_COST_POOL"] = name
                try:
                    plans[name] = (getattr(base, api)(timed, _SCHEMA),
                                   getattr(base, api)(probe, _SCHEMA))
                finally:
                    del sc.environment["GVT_FIXED_COST_POOL"]
        names = list(plans)
        walls = {n: [] for n in names}
        nzip = {n: [] for n in names}
        inv = {n: [] for n in names}
        for r in range(args.warmup + args.runs):
            k = r % len(names)
            for name in names[k:] + names[:k]:
                df, probe_df = plans[name]
                t = time.perf_counter()
                rows = df.collect()
                wall = 1000 * (time.perf_counter() - t)
                if probe_df is not None:
                    p = probe_df.collect()[0]
                if r < args.warmup:
                    continue
                walls[name].append(wall)
                if probe_df is not None:
                    nzip[name].append(rows[0]["n_zip"])
                    inv[name].append(p["inv_ms"])

        print(f"{args.runs} alternating warm runs after {args.warmup} "
              f"warm-up rounds, local[{session.host_cores()}]")
        print(f"{'variant':<18} {'wall_ms p50 [q1-q3]':>26} "
              f"{'invalidate_ms p50 [q1-q3]':>28} {'zipimporters':>13}")
        summary = {}
        for name in names:
            q1, med, q3 = _quartiles(walls[name])
            row = {"wall_ms": round(med, 1),
                   "wall_ms_q": [round(q1, 1), round(q3, 1)]}
            line = f"{name:<18} {med:>8.0f} [{q1:>6.0f}-{q3:>6.0f}]"
            if inv[name]:
                i1, im, i3 = _quartiles(inv[name])
                nz = statistics.median(nzip[name])
                row.update(invalidate_ms=round(im, 1), zipimporters=nz)
                line += (f" {im:>13.1f} [{i1:>5.1f}-{i3:>5.1f}]"
                         f" {nz:>13.0f}")
            print(line)
            summary[name] = row
        for api in APIS:
            ratio = (summary[f"{api}_prep"]["wall_ms"]
                     / summary[f"{api}_bare"]["wall_ms"])
            summary[f"{api}_prep_over_bare"] = round(ratio, 3)
            print(f"{api}: prep / bare wall = {ratio:.2f}")
        print(json.dumps(summary))
    finally:
        if spark is not None:
            session.stop_session(spark, session.process_tree(os.getpid())[1:])
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
