#!/usr/bin/env python3
"""geojson-vt-spark benchmark: pyramid build, viewport tile serving and
spatial join, each against a local[<cores>] Spark session driven by one
closed-loop client (the next operation starts when the last returns).

    python3 perfbench/run.py --workload pyramid_build --seed 1 \
        --seconds 15 --trace 0

Run from the repository root.  Set-up (session start, input generation
from --seed, the cold first operation, the tile_serve prebuild) is timed
as ``setup_s``; then operations run for --seconds; then every output is
checked outside the timed region.  The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1.  The line before it
prints the workload's headline metrics under their own names.  Exit
status is 1 when a check fails, 2 when the program cannot be imported.
See README.md for the workloads and the layer -> metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# per-layer metric -> unit; the traced run reports every one of them,
# zero where the workload does not touch the layer
LAYER_UNITS = {
    "sources.extract_s": "s", "pipeline.convert_s": "s",
    "engine.build_s": "s", "engine.tile_count_s": "s",
    "kernel.convert_1core_s": "s", "kernel.subtree_1core_s": "s",
    "engine.rounds": "count", "engine.path": "code",
    "engine.round_wall_s_max": "s", "engine.kernel_tasks": "count",
    "engine.kernel_task_s_sum": "s", "engine.kernel_task_s_max": "s",
    "engine.store_bytes": "bytes", "engine.store_files": "count",
    "engine.warm_s": "s", "engine.hit_viewport_ms": "ms",
    "engine.drill_viewport_ms": "ms", "serve.store_hit_ratio": "ratio",
    "serve.drill_tiles": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "operators.pip_s": "s", "operators.pip_pairs": "count",
    "operators.knn_s": "s", "operators.knn_rows": "count",
    "functions.cell_assign_s": "s", "trace.overhead_ms": "ms",
    "trace.op_self_share": "ratio",
}
OP_SPANS = {"pyramid_build": "op.build", "tile_serve": "op.viewport",
            "spatial_join": "op.join"}


def _quantile(xs: list[float], q: float) -> float:
    s = sorted(xs)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def _headline_metrics(name: str, walls: list[float], items: list[int],
                      wl, setup_s: float, rss_mb: float, attempted: int,
                      failed: int) -> dict:
    """The workload's headline metrics under their own names."""
    n = len(walls)
    out = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss_mb, "MB"),
           "error_rate": (failed / max(attempted, 1), "ratio")}
    if name == "pyramid_build":
        out["build_s"] = (statistics.median(walls), f"s (median of {n})")
        out["build_tiles_per_s"] = (sum(t for _, t, _ in wl.results) / sum(walls), "1/s")
    elif name == "tile_serve":
        out["serve_p50_ms"] = (1000 * _quantile(walls, 0.5), f"ms ({n} viewports)")
        out["serve_p95_ms"] = (1000 * _quantile(walls, 0.95), f"ms ({n} viewports)")
        out["serve_tiles_per_s"] = (sum(items) / sum(walls), "1/s")
    else:
        out["pip_rows_per_s"] = (wl.POINTS / statistics.median(wl.pip_s), "1/s")
        out["knn_queries_per_s"] = (wl.QUERIES / statistics.median(wl.knn_s), "1/s")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pyramid_build", "tile_serve", "spatial_join"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    sys.path.insert(0, ROOT)
    try:
        import geojson_vt_spark
    except ImportError as e:
        print(f"perfbench: cannot import geojson_vt_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if not os.path.abspath(geojson_vt_spark.__file__).startswith(ROOT + os.sep):
        # an installed copy would be measured instead of this checkout
        print(f"perfbench: geojson_vt_spark imported from outside {ROOT}: "
              f"{geojson_vt_spark.__file__}", file=sys.stderr)
        return 2

    import session
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    session.confine_env(work, ROOT)
    rss = session.RssSampler()
    rss.start()
    spark = None
    try:
        spark = session.make_session(work, session.host_cores())
        phases = {"session": time.monotonic() - t_start}
        from spans import Tracer
        from workloads import WORKLOADS
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
        wl.setup()
        setup_s = time.monotonic() - t_start
        phases["inputs+warm-up"] = setup_s - phases["session"]

        walls, items, traced = [], [], []
        failed_ops: set[int] = set()
        t_loop = time.monotonic()
        i = 0
        # two operations at least, so one slow operation moves the
        # median by half, not whole
        min_ops = 4 if args.trace else 2
        while i < min_ops or time.monotonic() - t_loop < args.seconds:
            # the traced run alternates untraced and traced operations in
            # ABBA order (so a drift in machine speed cancels); the
            # difference of their medians is the tracing overhead
            tracer.enabled = bool(args.trace) and i % 4 in (1, 2)
            try:
                wall, n = wl.op(i)
                walls.append(wall)
                items.append(n)
                traced.append(tracer.enabled)
            except Exception:  # noqa: BLE001 - count the failure, keep measuring
                traceback.print_exc()
                failed_ops.add(i)
            i += 1
        attempted = i
        phases["loop"] = time.monotonic() - t_loop
        tracer.enabled = bool(args.trace)
        t_check = time.monotonic()
        wl.check()
        phases["check"] = time.monotonic() - t_check
        failed = len(failed_ops | wl.failed_ops)
        for p in wl.problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        if not walls:
            raise RuntimeError("no operation completed")

        if args.trace:
            tracer.resolve_spark_counts()
        rss_mb = rss.stop()
    finally:
        descendants = rss.descendants()
        if spark is not None:
            session.stop_session(spark, descendants)
        shutil.rmtree(work, ignore_errors=True)

    print("perfbench: phases " + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
          + f", total {time.monotonic() - t_start:.1f}s", file=sys.stderr)
    print("perfbench: op walls " + " ".join(f"{w:.3f}" for w in walls)
          + f" s; peak rss MB {rss.breakdown()}", file=sys.stderr)
    headline = _headline_metrics(args.workload, walls, items, wl, setup_s,
                                 rss_mb, attempted, failed)
    print(f"perfbench {args.workload} seed={args.seed}: " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in headline.items()))

    if args.trace:
        metrics = {k: 0.0 for k in LAYER_UNITS}
        metrics.update(wl.layer_metrics())
        op_name = OP_SPANS[args.workload]
        ops = [r for r in tracer.spans if r["name"] == op_name and r["request"] >= 0]
        for key in ("jobs", "stages", "tasks"):
            metrics[f"spark.{key}"] = statistics.median(r[f"spark_{key}"] for r in ops)
        on = [w for w, t in zip(walls, traced) if t]
        off = [w for w, t in zip(walls, traced) if not t]
        if on and off:
            metrics["trace.overhead_ms"] = 1000 * (statistics.median(on) - statistics.median(off))
        selfs = tracer.self_times()
        metrics["trace.op_self_share"] = selfs.get(op_name, 0.0) / sum(
            r["end"] - r["start"] for r in ops)
        out_dir = os.path.join(ROOT, ".bench_traces")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]} for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": rss_mb, "unit": "MB"},
            "op_p50_ms": {"value": 1000 * statistics.median(walls), "unit": "ms"},
            "items_per_s": {"value": sum(items) / sum(walls), "unit": "1/s"},
        }
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
