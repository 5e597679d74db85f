"""SparkTileEngine — the distributed tile pyramid.

geojson-vt builds its pyramid with one recursive splitTile and one stop
rule (src/index.js:66-156).  The engine builds it in one shape too: a
quadtree CUT of the tile tree, decided from the z0 stats (plus one slim
gate job when they do not settle it), then one wave per kind of cell:

    z0 frontier --route to LEAF cells, one task per bin--> subtree b=1
        |                                              + sources b=1
        '--narrow in-task walk: z0 as the root,
           then the INTERNAL cells----------------> tilefeat/z=N
    driver: tiles/z=N stats rows, lineage rows (written last)

Cut shapes (see _build_forest): root-only when the z0 tile stops,
depth-1 (the four z1 cells as leaves) when the stats prove it or
index_max_zoom is 1, otherwise gated with internal cells down to
_FOREST_MAX_LEVEL; a cell no prover can split is a leaf whatever its
size.

Scale design notes (SURVEY.md §4/§7):
- the only shuffles are the gate/probe aggregations (≤ 4^level slim
  rows) and the leaf wave's bin exchange; every tilefeat tile is
  rendered by one narrow map, so the z0 tile holding the whole corpus
  never funnels into one task;
- driver state is O(cut cells), not O(4^z tiles): the leaf subtrees are
  built in-task by the batch kernel and written task-side;
- the features checkpoint IS the z0 frontier: the ingest stage wraps
  the dateline per Arrow batch (pipeline.wrap_table), so the corpus is
  written once and every reader sees it through one view
  (_frontier0_view);
- lineage lands only after every store is durable: a kill before the
  final row restarts cleanly from the z0 frontier, and a finished
  build whose subtree or sources store is lost re-runs the leaf wave
  from the leaf keys the final row records;
- a retained source is FEATURE rows like every other feature set at
  rest: the sources store (every leaf the wave built), a drill-overlay
  table, or, for a root-only cut, the z0 frontier itself; one reader
  (_arrow_state) turns each into kernel state.

Serving runs no Spark job: get_tiles reads the stores on the driver
through one pyarrow reader (_table), and get_tile is a one-key
get_tiles.  A miss (getTile's lazy drill-down) replays the build's batch
kernel (batch_split_subtree under splitTile's drill stop rule) over the
retained source of its nearest ancestor, pruned to the target path,
under one engine lock; the drilled tiles stay packed in an in-memory
overlay until a read returns them, beside the FEATURE rows of the
sources they keep.

Run the session with ``spark.scheduler.mode=FAIR``: the render walk runs
concurrently with the leaf wave, and FIFO queues the small jobs behind
the big stages.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernel.index import to_id
from .model import FEATURE_COLUMNS, FEATURE_SCHEMA
from .options import TileOptions
from .pipeline import (_NV_SQL, _arrow_state, _cell_tables,
                       batch_split_subtree, features_from_json_df,
                       forest_gate_df, forest_route_df,
                       forest_slot_wave_df, geojson_to_input_rows,
                       internal_tree_direct)

TILE_COLUMNS = ["z", "x", "y", "tile_id", "num_features", "num_points",
                "num_simplified", "minx", "miny",
                "maxx", "maxy", "is_split", "has_source"]

# stats of a tile with no features (src/tile.js:14-17 sentinel bbox): a
# leaf that keeps its (empty) source
_EMPTY_TILE_STATS = [0, 0, 0, 2.0, 1.0, -1.0, 0.0, False, True]

# the column a drill reads for a stored tile
_META_COLUMNS = ["has_source"]

# the build's output stores (the features checkpoint is ingest's)
_STORES = ("tiles", "tilefeat", "subtree", "sources")

# the leaf wave's stores: tile rows and the leaves' retained sources
_LEAF_STORES = ("subtree", "sources")


class SparkTileEngine:
    def __init__(self, spark: SparkSession, options: TileOptions | None = None,
                 workdir: str | None = None):
        self.spark = spark
        self.options = options or TileOptions()
        if workdir is None:
            import tempfile
            workdir = tempfile.mkdtemp(prefix="gvt_spark_")
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        # drill-down overlay: packed tile rows and retained sources
        # (FEATURE-row tables) created by get_tiles misses after the
        # build, dropped by the next build
        self._drill_tiles: dict[int, dict] = {}
        self._drill_sources: dict = {}
        self._consumed_sources: set[int] = set()
        # driver-side cache of the tiles-store stats (z0, internal cut
        # cells and empties: O(cut), NOT the 4^z subtree output)
        self._stats_cache: dict | None = None
        # pyarrow datasets over the store directories, opened once
        # (listing and footer discovery) and dropped by a build
        self._datasets: dict = {}
        # one get_tiles at a time: a drill consumes its root's source
        # before it has written the children that now hold it
        self._serve_lock = threading.Lock()
        # per-build forest bookkeeping: leaf work estimates (the slot
        # wave's LPT weights) and step figures for the lineage row
        self._forest_leaf_work: dict = {}
        self._forest_vprobe_sec: float | None = None
        self._forest_slot_bins: int | None = None
        self._lineage_lock = threading.Lock()

    # ------------------------------------------------------------ paths

    def _p(self, *parts) -> str:
        return os.path.join(self.workdir, *parts)

    @staticmethod
    def _write_local_parquet(pdf, path: str) -> None:
        """Overwrite ``path`` with a single parquet file holding the
        (driver-local, small) pandas frame — spark-readable, no job."""
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq
        if os.path.isdir(path):
            shutil.rmtree(path)
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False),
                       os.path.join(path, "part-00000.parquet"))
        open(os.path.join(path, "_SUCCESS"), "w").close()

    def _read_frontier0(self) -> DataFrame:
        """The z0 frontier: a view over the features checkpoint, whose
        rows the ingest stage already wrapped."""
        return self._frontier0_view(self._read_features())

    def _read_features(self) -> DataFrame:
        """The converted-features checkpoint, read with its known schema
        (no schema-inference job)."""
        return self.spark.read.schema(FEATURE_SCHEMA).parquet(
            self._p("features"))

    def _set_pool(self, name: str) -> None:
        """Assign the CURRENT THREAD's jobs to a FAIR scheduler pool.
        With ``spark.scheduler.mode=FAIR``, pools are created on demand
        (weight 1) and the task scheduler round-robins slots BETWEEN
        pools — without this, every concurrent build job lands in the
        one default pool, whose internal order is FIFO, so a wide
        subtree wave monopolizes the fleet while the concurrent renders
        wait for leftovers: the round-4 grid profile measured renders
        queueing 12-19 s behind subtree batches.  Properties are
        thread-local; every pooled job sets its class at entry because
        executor threads are reused."""
        self.spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", name)

    def _lineage_path(self) -> str:
        return self._p("lineage.json")

    def _read_lineage(self) -> list[dict]:
        try:
            with open(self._lineage_path()) as fh:
                return [json.loads(line) for line in fh if line.strip()]
        except FileNotFoundError:
            return []

    def _final_lineage(self) -> dict | None:
        """The forest's final lineage row (the build is done), or None."""
        final = [r for r in self._read_lineage()
                 if r.get("final") and r.get("forest")]
        return final[-1] if final else None

    def _append_lineage(self, row: dict) -> None:
        with self._lineage_lock:
            with open(self._lineage_path(), "a") as fh:
                fh.write(json.dumps(row) + "\n")
            self._commit_snapshot(row)

    # ------------------------------------------------ snapshot metadata

    def _snap_dir(self) -> str:
        return self._p("snapshots")

    def _version_path(self) -> str:
        return self._p("VERSION.json")

    def current_snapshot_id(self) -> int:
        try:
            with open(self._version_path()) as fh:
                return int(json.load(fh)["snapshot_id"])
        except (FileNotFoundError, ValueError, KeyError):
            return 0

    def _commit_snapshot(self, row: dict) -> None:
        """Iceberg-style commit metadata, written per lineage append
        (caller holds the lineage lock).

        The forest appends its lineage rows only after every store is
        durable, so the FINAL commit records the exact file manifest
        (name + byte size) of every store directory
        (_store_manifests); each commit then atomically advances
        VERSION.json (write-temp + rename — the same
        single-pointer commit protocol Iceberg's version-hint uses).
        A reader that follows VERSION → snapshot → manifests sees only
        complete commits; ``verify_snapshot`` audits the manifests
        against the filesystem, catching truncated or deleted files
        that a bare directory listing would miss.  The container has no
        Iceberg runtime (BENCH notes); this reproduces the metadata
        semantics the north rule needs — snapshot isolation for
        resume — on plain parquet dirs."""
        if "zoom" in row:
            op = "append-zoom"
        elif "subtree_batch" in row:
            op = "subtree-batch"
        else:
            op = "misc"
        manifests = self._store_manifests() if row.get("final") else {}
        prev = self.current_snapshot_id()
        sid = prev + 1
        os.makedirs(self._snap_dir(), exist_ok=True)
        snap = {
            "snapshot_id": sid,
            "parent_id": prev or None,
            "operation": op,
            "committed_at": time.time(),
            "commit": {k: v for k, v in row.items()
                       if k in ("zoom", "subtree_batch", "n_tiles",
                                "n_split", "n_points", "n_keys",
                                "complete", "final")},
            "manifests": manifests,
        }
        with open(os.path.join(self._snap_dir(), f"v{sid:06d}.json"),
                  "w") as fh:
            json.dump(snap, fh)
        tmp = self._version_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"snapshot_id": sid}, fh)
        os.replace(tmp, self._version_path())

    def _store_manifests(self) -> dict:
        """{store dir relative to the workdir: [{name, bytes}]} for every
        file under the build's stores — the final commit's manifest, so
        no level or part of any store escapes verify_snapshot."""
        manifests = {}
        for store in ("features", *_STORES):
            for d, _, files in sorted(os.walk(self._p(store))):
                if files:
                    rel = os.path.relpath(d, self.workdir).replace(os.sep, "/")
                    manifests[rel] = [
                        {"name": fn,
                         "bytes": os.path.getsize(os.path.join(d, fn))}
                        for fn in sorted(files)]
        return manifests

    def snapshots(self) -> list[dict]:
        """All committed snapshots up to the current VERSION pointer,
        oldest first."""
        cur = self.current_snapshot_id()
        out = []
        for sid in range(1, cur + 1):
            try:
                with open(os.path.join(self._snap_dir(),
                                       f"v{sid:06d}.json")) as fh:
                    out.append(json.load(fh))
            except FileNotFoundError:
                continue
        return out

    def verify_snapshot(self, snapshot_id: int | None = None) -> list[str]:
        """Audit a snapshot's manifests against the filesystem; returns
        a list of problems (empty = intact).  Run before trusting a
        workdir for resume or serving."""
        sid = snapshot_id or self.current_snapshot_id()
        problems = []
        seen = False
        for snap in self.snapshots():
            if snap["snapshot_id"] > sid:
                break
            seen = True
            for store, files in snap["manifests"].items():
                base = self._p(*store.split("/"))
                for f in files:
                    p = os.path.join(base, f["name"])
                    if not os.path.exists(p):
                        problems.append(f"{store}/{f['name']}: missing")
                    elif os.path.getsize(p) != f["bytes"]:
                        problems.append(
                            f"{store}/{f['name']}: size "
                            f"{os.path.getsize(p)} != {f['bytes']}")
        if not seen and sid:
            problems.append(f"snapshot v{sid} not found")
        return problems

    # ------------------------------------------------------------ build

    def build_from_geojson(self, data: dict, n_input_partitions: int = 0) -> None:
        rows = geojson_to_input_rows(data)
        n = n_input_partitions or self.spark.sparkContext.defaultParallelism
        df = self.spark.createDataFrame(
            rows, "input_ord long, gen_index long, feature_json string")
        if len(rows) > 64:
            df = df.repartition(min(n, max(1, len(rows) // 16)))
        # route through the features checkpoint: the z0 stats ride its
        # write
        self.build_from_converted(features_from_json_df(df, self.options))

    # the forest task budget in vertex-levels (a cell's vertex mass × the
    # levels its subtree spans), ~1.5-2 s per task at the measured batch-
    # kernel rate (~300-500k vertex-levels/sec per core after the round-2
    # vectorization).  It sizes leaf cells and the slot wave's LPT bins;
    # a smaller budget also bounds the hottest metro cell's subtree task
    _KERNEL_PTS_PER_TASK = 600_000

    def _frontier0_view(self, src: DataFrame) -> DataFrame:
        """z0 frontier view over ingested features (features_from_json_df
        rows, or the checkpoint _read_frontier0 serves): the rows plus
        their tile (z=0, x=0, y=0) and vertex count."""
        return src.selectExpr("0 AS z", "0 AS x", "0 AS y", *FEATURE_COLUMNS,
                              f"{_NV_SQL} AS n_verts")

    def _ingest_aggs(self) -> list:
        """z0 classification stats (z0 holds exactly one tile, so they
        are global aggregates), as SQL-text aggregates for one observed
        pass over the features."""
        return [F.expr(e) for e in (
            "count(1) AS num_features",
            f"sum({_NV_SQL}) AS num_points",
            "min(minx) AS minx", "min(miny) AS miny",
            "max(maxx) AS maxx", "max(maxy) AS maxy")]

    @staticmethod
    def _z0_stats(row) -> dict | None:
        if not row["num_features"]:
            return None
        return {"num_features": int(row["num_features"]),
                "num_points": int(row["num_points"]),
                "minx": float(row["minx"]), "miny": float(row["miny"]),
                "maxx": float(row["maxx"]), "maxy": float(row["maxy"])}

    def build_from_converted(self, features_df: DataFrame,
                             resume: bool = False,
                             approx_rows: int | None = None) -> None:
        """Build the pyramid from ``features_df``: the rows of
        features_from_json_df, converted AND wrapped at the dateline
        (FEATURE_SCHEMA, ord_path [world, input_ord, convert_ord,
        slice]).  Rows that were only converted lack the world copies.

        ONE ingest job: the features checkpoint write carries the z0
        stats as observed metrics, so the checkpoint is durable and the
        cut's first decision is known before any other job runs.  The
        checkpoint is the z0 frontier (``_read_frontier0`` is a view
        over it): one materialization of the corpus, wrapping or not.

        ``approx_rows`` is accepted for callers that pass a rough
        feature count and is ignored: the cut is chosen from the exact
        observed stats.

        ``resume=True`` on a finished build (the lineage holds the final
        row) goes straight to ``build``, which runs no job unless a
        leaf store is lost."""
        from pyspark.sql import Observation

        if resume and self._final_lineage() is not None:
            self.build(resume=True)
            return
        path = self._p("features")
        if resume and os.path.exists(os.path.join(path, "_SUCCESS")):
            row = self._read_features().agg(*self._ingest_aggs()).first()
        else:
            obs = Observation()
            (features_df.observe(obs, *self._ingest_aggs())
             .write.mode("overwrite").parquet(path))
            row = obs.get
        self.build(resume=resume, z0_stats=self._z0_stats(row))

    # forest-wave cut: deepest subdivision level (gate cells grow 4^L;
    # past z6 the cut bookkeeping stops paying).  Cells below it are
    # blind leaves, so no input is too large for the cut.
    _FOREST_MAX_LEVEL = 6

    def _forest_cut_proven(self, n_points: int) -> bool:
        """True when the z0 stats alone prove the cut is exactly the
        four z1 cells as leaves, so no gate job is needed.  With
        index_max_zoom 1 the z1 cells sit at the ceiling and stop
        whatever their mass.  Otherwise a z1 cell holds at most the
        whole corpus, so its work m × (imz - 1) is at most
        ``n_points × (imz - 1)``, and at or under the task budget the
        walk of _forest_cut makes every non-empty z1 cell a leaf.
        Zero-mass cells get no routed rows and are back-filled from
        missing acks, exactly as the gate's empties would be."""
        imz = self.options.index_max_zoom
        return imz == 1 or n_points * (imz - 1) <= self._KERNEL_PTS_PER_TASK

    def _forest_cut(self, gate_rows, fr0) -> tuple:
        """Quadtree cut from the gate masses: walk from the 4 z1 cells;
        a cell subdivides (INTERNAL — distributed narrow render of its
        own tile) while it is guaranteed-split, still above the leaf
        budget, and above neither the index_max_zoom ceiling nor
        _FOREST_MAX_LEVEL; otherwise it becomes a LEAF (one
        slot-wave subtree task, its root classified by the normal
        stop rule in-kernel).  Zero-mass children of internal cells
        are recorded for the driver-side empty back-fill
        (index.js:151-154 pushes ``tl || []``).  Returns (leaves,
        internals, empties).

        Guaranteed-split has TWO provers, both exact lower bounds on
        the cell tile's post-clip num_points (> index_max_points ⇒
        src/index.js:105-107 splits):
        - the gate's fully-inside bbox mass ``i`` (free, rides the
          gate job) — blind on dense clusters straddling a cell edge;
        - the vertex-survival count ``v`` (pipeline.
          forest_vertex_probe_df over ``fr0``) — one cheap second job,
          run only when the walk meets over-budget cells ``i`` cannot
          prove (the measured forest skew: twin boundary cells with
          identical duplicated candidate mass, i == 0, 15 s of
          serial kernel each).  Internal cells are eligible up to
          l == _FOREST_MAX_LEVEL; their children beyond the gate's
          deepest level are BLIND (no gate row): each is estimated at
          a quarter of its parent's mass over the imz - l levels its
          subtree renders, and joins the cut as a leaf (routed by bbox,
          zero-row ones back-filled from missing acks).

        An over-budget cell that NEITHER prover can split (e.g. a giant
        ring enclosing the cell with every vertex outside) is a leaf
        too, like a blind child however large its estimate: its
        estimated work weighs its slot in the wave's LPT packing."""
        opts = self.options
        imz = opts.index_max_zoom
        imp = opts.index_max_points
        budget = self._KERNEL_PTS_PER_TASK
        max_lvl = self._FOREST_MAX_LEVEL
        self._forest_vprobe_sec = None
        cells = {(int(r["lvl"]), int(r["x"]), int(r["y"])):
                 (int(r["m"] or 0), int(r["i"] or 0))
                 for r in gate_rows}
        # per-leaf estimated work, consumed by the slot wave's LPT
        # bin-packing
        leaf_work: dict = {}
        self._forest_leaf_work = leaf_work

        def walk(vcells):
            leaves: list = []
            internals: list = []
            empties: list = []
            opaque: list = []
            leaf_work.clear()
            stack = [(1, x, y) for y in (0, 1) for x in (0, 1)]
            while stack:
                l, x, y = stack.pop(0)
                m, i = cells.get((l, x, y), (0, 0))
                if m == 0:
                    empties.append((l, x, y))
                    continue
                work = m * max(imz - l, 1)
                eligible = l < imz and l <= max_lvl and work > budget
                proven = i > imp or (vcells is not None
                                     and vcells.get((l, x, y), 0) > imp)
                if eligible and proven:
                    internals.append((l, x, y))
                    blind = m // 4 * max(imz - l, 1)
                    for dy in (0, 1):
                        for dx in (0, 1):
                            c = (l + 1, 2 * x + dx, 2 * y + dy)
                            if l + 1 <= max_lvl:
                                stack.append(c)
                            else:
                                leaves.append(c)
                                leaf_work[c] = blind
                elif eligible and vcells is None:
                    opaque.append((l, x, y))
                else:
                    leaves.append((l, x, y))
                    leaf_work[(l, x, y)] = work
            return leaves, internals, empties, opaque

        leaves, internals, empties, opaque = walk(None)
        if opaque:
            from .pipeline import forest_vertex_probe_df
            lmin = min(l for l, _, _ in opaque)
            levels = list(range(lmin, min(max_lvl, imz - 1) + 1))
            _t = time.monotonic()
            v_rows = forest_vertex_probe_df(fr0, opts, opaque,
                                            levels).collect()
            self._forest_vprobe_sec = round(time.monotonic() - _t, 2)
            vcells = {(int(r["lvl"]), int(r["x"]), int(r["y"])):
                      int(r["v"] or 0) for r in v_rows}
            leaves, internals, empties, _ = walk(vcells)
        return leaves, internals, empties

    def _forest_leaf_wave(self, leaves, fr0: DataFrame) -> list:
        """The forest wave's LEAF-subtree job: route the z0 frontier
        ``fr0`` to the leaf cut cells and clip each whole descendant
        subtree in-task into subtree b=1, its leaves' retained sources
        into sources b=1.

        Shape: DRIVER-PACKED bins — the cut's per-leaf work estimates
        are LPT-packed into ceil(total/budget) bins (never fewer than
        the fleet's slots) and the bin is the wave's partition id, so
        each bin is one task that slices its rows per cell through the
        per-cell kernel (pipeline.forest_slot_wave_df).  groupBy(z,x,y)
        would place groups by hash instead: two hot cells colliding in
        one task double the wave wall (= max task, the term a cluster
        pays), and no bin-packing is possible.

        Factored out of _build_forest so a resume (build) can
        re-create a lost leaf store from the cut keys recorded in
        the final lineage row — the z0 frontier it reads is still on
        disk for any resumable workdir (estimates are absent there: the
        pack falls back to uniform weights, same disk layout either
        way)."""
        import heapq
        import shutil
        est = self._forest_leaf_work
        werk = sorted(((est.get(c, 1), c) for c in leaves), reverse=True)
        total = sum(w for w, _ in werk)
        par = self.spark.sparkContext.defaultParallelism
        n_bins = max(1, min(len(leaves),
                            max(par, -(-total
                                       // max(self._KERNEL_PTS_PER_TASK,
                                              1)))))
        self._forest_slot_bins = n_bins
        bins: dict = {}
        heap = [(0, b) for b in range(n_bins)]
        heapq.heapify(heap)
        for w, c in werk:
            load, b = heapq.heappop(heap)
            bins[c] = b
            heapq.heappush(heap, (load + w, b))
        self._set_pool("gvt-subtree")
        outs = [self._p(store, "b=1") for store in _LEAF_STORES]
        for out in outs:
            if os.path.isdir(out):
                shutil.rmtree(out)
        acks = forest_slot_wave_df(
            forest_route_df(fr0, self.options, bins), self.options, *outs,
            n_bins).collect()
        for out in outs:
            os.makedirs(out, exist_ok=True)
            open(os.path.join(out, "_SUCCESS"), "w").close()
        return acks

    def _write_tile_rows(self, z: int, rows: list) -> None:
        """tiles/z=N from driver rows ``(x, y, stats)``, stats =
        [num_features, num_points, num_simplified, minx, miny, maxx,
        maxy, is_split, has_source]: tiny, so one local parquet file
        and no Spark job."""
        import pandas as pd
        rows = sorted(rows, key=lambda t: (t[0], t[1]))
        cols = list(zip(*(t[2] for t in rows))) or [()] * 9
        dtypes = ["int64"] * 3 + ["float64"] * 4 + ["bool"] * 2
        self._write_local_parquet(pd.DataFrame({
            "x": pd.Series([t[0] for t in rows], dtype="int32"),
            "y": pd.Series([t[1] for t in rows], dtype="int32"),
            **{name: pd.Series(col, dtype=dt) for name, col, dt in zip(
                TILE_COLUMNS[4:], cols, dtypes)},
            "tile_id": pd.Series([to_id(z, t[0], t[1]) for t in rows],
                                 dtype="int64"),
        }), self._p("tiles", f"z={z}"))

    def _build_forest(self, r0: dict) -> None:
        """The whole pyramid from the z0 frontier, in one quadtree cut
        whose shape follows the z0 stats ``r0``:

        - ROOT-ONLY: the z0 tile stops (num_points ≤ index_max_points,
          or index_max_zoom 0).  z0 renders and keeps its source, which
          is the z0 frontier (_stored_sources reads it); no other tile
          exists.
        - DEPTH-1: the four z1 cells are leaves, with no gate job, when
          index_max_zoom is 1 or the stats prove it
          (_forest_cut_proven).  Every small corpus takes this cut.
        - GATED: forest_gate_df measures per-cell masses and _forest_cut
          walks them into leaf, internal and empty cells.

        Once the cut is known, two stages run concurrently (FAIR pools
        share the fleet between them):
        - the render walk (internal_tree_direct): ONE narrow mapInArrow
          job whose tasks render their partition of the z0 frontier as
          the z0 tile, then walk it down the INTERNAL cells — clip one
          level per node on the shrinking parent state, render through
          the shared kernel.  A tile's features stay spread across scan
          partitions (no per-tile funnel), tilefeat parts are written
          task-side and stats rows come back as slim acks.  It runs on
          one scoped thread, so it is awaited even when the leaf wave
          raises.
        - LEAF cells → slot-wave subtree tasks (_forest_leaf_wave: clip
          z0→cell in-task, then the whole descendant pyramid) into
          subtree b=1.
        The driver then writes the tiles/z=N stats rows (z0, internal
        cells, empty back-fills) and the lineage rows LAST, so a kill
        anywhere restarts the build cleanly."""
        opts = self.options
        t0 = time.monotonic()
        fr0 = self._read_frontier0()  # planned once per build
        steps: dict = {}
        n0 = int(r0["num_points"])
        root_only = (opts.index_max_zoom == 0
                     or n0 <= opts.index_max_points)
        leaves, internals, empties = [], [], []
        self._forest_leaf_work = {}
        self._forest_vprobe_sec = self._forest_slot_bins = None
        gate_sec = None
        if root_only:
            pass  # z0 alone; its retained source is the z0 frontier
        elif self._forest_cut_proven(n0):
            leaves = [(1, x, y) for y in (0, 1) for x in (0, 1)]
        else:
            _tg = time.monotonic()
            leaves, internals, empties = self._forest_cut(
                forest_gate_df(fr0, opts, self._FOREST_MAX_LEVEL).collect(),
                fr0=fr0)
            gate_sec = round(time.monotonic() - _tg, 2)

        def walk_job():
            self._set_pool("gvt-render")
            _t = time.monotonic()
            acks = internal_tree_direct(fr0, internals, opts,
                                        self._p("tilefeat"))
            steps["render"] = round(time.monotonic() - _t, 2)
            return acks

        # leaving the block awaits the walk, also when the wave raises:
        # a failed build leaves no stage running
        with ThreadPoolExecutor(max_workers=1) as render:
            fut_walk = render.submit(walk_job)
            _t1 = time.monotonic()
            leaf_acks = (self._forest_leaf_wave(leaves, fr0)
                         if leaves else [])
            wave_sec = time.monotonic() - _t1
            _t2 = time.monotonic()
            walk_acks = fut_walk.result()
            render_wait = time.monotonic() - _t2

        # per-(task, tile) partials → one stats row per rendered tile
        merged: dict = {}
        for r in walk_acks:
            key = (int(r["z"]), int(r["x"]), int(r["y"]))
            st = [int(r["n_feats"]), int(r["n_points"]), int(r["n_sim"]),
                  float(r["minx"]), float(r["miny"]), float(r["maxx"]),
                  float(r["maxy"])]
            cur = merged.get(key)
            merged[key] = st if cur is None else [
                *(a + b for a, b in zip(cur[:3], st[:3])),
                *map(min, cur[3:5], st[3:5]), *map(max, cur[5:], st[5:])]
        # z0's other stats are the observed r0; its render adds ns
        ns0 = merged.pop((0, 0, 0))[2]
        # one tiles/z=N write per level: z0, internal-cell stats rows
        # and empty-children sentinels.  Leaves that received no
        # candidate rows (blind leaves, or z1 cells of a stats-proven
        # cut) produce no wave group and no subtree part: back-fill them
        # from the missing acks too.
        acked = {(int(r["z"]), int(r["x"]), int(r["y"]))
                 for r in leaf_acks}
        by_level: dict = {0: [(0, 0, [
            r0["num_features"], n0, ns0, r0["minx"], r0["miny"],
            r0["maxx"], r0["maxy"], not root_only, root_only])]}
        for (z, x, y), st in merged.items():
            by_level.setdefault(z, []).append((x, y, st + [True, False]))
        for z, x, y in empties + [c for c in leaves if c not in acked]:
            by_level.setdefault(z, []).append((x, y, _EMPTY_TILE_STATS))
        for z, rows in sorted(by_level.items()):
            self._write_tile_rows(z, rows)
        for z in sorted({0, *(l for l, _, _ in internals)}):
            p = self._p("tilefeat", f"z={z}")
            os.makedirs(p, exist_ok=True)
            open(os.path.join(p, "_SUCCESS"), "w").close()

        # lineage lands LAST (resume contract: no final row → clean
        # rebuild from the z0 frontier)
        max_z = max([l for l, _, _ in leaves], default=int(not root_only))
        self._append_lineage({
            "zoom": 0, "n_tiles": 1, "n_split": int(not root_only),
            "n_points": n0, "forest": True,
            "wall_sec": time.monotonic() - t0,
            "steps": {"render_wait": round(render_wait, 2)},
            "complete": True, "final": False})
        self._append_lineage({
            "subtree_batch": 1, "n_keys": len(leaves), "forest": True,
            "wall_sec": round(wave_sec, 2),
            "steps": {
                "n_leaves": len(leaves), "n_internal": len(internals),
                "n_empty": len(empties),
                "n_slots": self._forest_slot_bins,
                "gate": gate_sec,
                "vprobe": self._forest_vprobe_sec,
                **steps,
                "task_secs_sum": round(sum(
                    r["secs"] for r in leaf_acks), 2),
                "task_secs_max": round(max(
                    (r["secs"] for r in leaf_acks), default=0.0), 2)}})
        # the final row records the leaf cut keys so a resume can
        # re-create a lost leaf store for a completed build
        self._append_lineage({
            "zoom": max_z, "n_tiles": len(leaves) + len(internals),
            "handoff": [list(c) for c in leaves], "forest": True,
            "wall_sec": time.monotonic() - t0,
            "complete": True, "final": True})

    def _reset_stores(self) -> None:
        """Fresh-build cleanup.  Stores, lineage and snapshot history of
        an earlier (or killed) build in this workdir must not survive:
        task-side parts of a killed attempt, or the dirs of a cut with
        another shape, would surface through the root-level readers
        (tiles(), _read) as phantom tiles."""
        import shutil
        for store in (*_STORES, "snapshots"):
            p = self._p(store)
            if os.path.isdir(p):
                shutil.rmtree(p)
        for p in (self._lineage_path(), self._version_path()):
            if os.path.exists(p):
                os.remove(p)

    def build(self, resume: bool = False,
              z0_stats: dict | None = None) -> None:
        """Build the pyramid (the first, cz == null pass of splitTile)
        through the forest cut (_build_forest), the only build path,
        from the features checkpoint as the z0 frontier.  ``z0_stats``
        are the z0 stats build_from_converted's ingest job observed;
        None means an empty input.

        ``resume=True``: when the lineage holds the final row the build
        is done, and only a lost subtree or sources store is re-run from
        the leaf keys that row records.  Anything less restarts the
        build: the forest appends its lineage only after every store is
        durable.

        Every build drops what serving derived from the previous one:
        the stats cache, the opened datasets and the drill overlay."""
        with self._serve_lock:
            self._stats_cache = None
            self._datasets.clear()
            self._drill_tiles.clear()
            self._drill_sources.clear()
            self._consumed_sources.clear()
        if resume:
            final = self._final_lineage()
            if final is not None:
                keys = [tuple(k) for k in final.get("handoff") or []]
                if keys and not all(
                        os.path.exists(self._p(store, "b=1", "_SUCCESS"))
                        for store in _LEAF_STORES):
                    self._forest_leaf_wave(keys, self._read_frontier0())
                return
        self._reset_stores()
        if z0_stats is None:
            # empty input: no tiles, as LocalTileIndex builds none
            self._write_tile_rows(0, [])
            self._append_lineage({
                "zoom": 0, "n_tiles": 0, "n_points": 0,
                "forest": True, "complete": True, "final": True})
        else:
            self._build_forest(z0_stats)

    # ------------------------------------------------------------ read side

    def _dataset(self, store: str):
        """pyarrow dataset over one store directory under the workdir
        (``tilefeat``, ``features``, ...): hive ``z=``/``b=``
        directories become columns, ``_SUCCESS`` and dot files are
        skipped.  Opened once per engine until the next build; None
        when the directory is absent or holds no data file."""
        if store not in self._datasets:
            import pyarrow.dataset as ds
            path = self._p(*store.split("/"))
            dset = (ds.dataset(path, format="parquet", partitioning="hive")
                    if os.path.isdir(path) else None)
            self._datasets[store] = dset if dset and dset.files else None
        return self._datasets[store]

    def _table(self, store: str, columns=(), keys=None):
        """One store as an Arrow table: z/x/y (where the store has them)
        plus ``columns``, for every row or only the tiles in ``keys``;
        None when the store is absent or nothing is asked for.  Tile
        rows (the tiles and subtree stores) filter on ``tile_id``;
        tilefeat and sources rows, which carry no tile_id, on z/x/y, a
        superset narrowed here to the exact keys.  Parquet row-group
        statistics prune the scan, and no Spark job runs."""
        import pyarrow.dataset as ds
        dset = self._dataset(store)
        if dset is None or (keys is not None and not keys):
            return None
        names = dset.schema.names
        filt = None
        if keys is not None:
            keys = set(keys)
            if "tile_id" in names:
                filt = ds.field("tile_id").isin([to_id(*k) for k in keys])
            else:
                filt = (ds.field("z").isin(list({k[0] for k in keys}))
                        & ds.field("x").isin(list({k[1] for k in keys}))
                        & ds.field("y").isin(list({k[2] for k in keys})))
        cols = [c for c in ("z", "x", "y") if c in names] + list(columns)
        tbl = dset.to_table(columns=cols, filter=filt)
        if keys is None or "tile_id" in names:
            return tbl
        zxy = [tbl.column(c).to_numpy(zero_copy_only=False).astype(
            np.int64) for c in ("z", "x", "y")]
        want = np.asarray([(z << 50) | (x << 25) | y for z, x, y in keys])
        return tbl.filter(np.isin((zxy[0] << 50) | (zxy[1] << 25) | zxy[2],
                                  want))

    def _read(self, store: str, columns=(), keys=None) -> list[dict]:
        """_table's rows as plain dicts."""
        tbl = self._table(store, columns, keys)
        return [] if tbl is None else tbl.to_pylist()

    def _stats(self) -> dict:
        """(z,x,y) → has_source of the tiles-store tiles.

        The tiles store holds O(cut) rows — z0, internal cells, empty
        back-fills — and does not grow with the 4^z subtree
        output, so caching it is driver-safe at any pyramid depth."""
        if self._stats_cache is None:
            self._stats_cache = {(r["z"], r["x"], r["y"]): r
                                 for r in self._read("tiles", _META_COLUMNS)}
        return self._stats_cache

    def warm(self) -> None:
        """Open the tile stores for serving: load the stats cache and
        list every store's files once."""
        with self._serve_lock:
            self._stats()
            for store in ("tilefeat", *_LEAF_STORES):
                self._dataset(store)

    def tiles(self) -> DataFrame:
        """Every stored tile's TILE_COLUMNS row as a Spark DataFrame:
        the tiles store plus the subtree store."""
        base = (self.spark.read.parquet(self._p("tiles"))
                .select(*TILE_COLUMNS))
        path = self._p("subtree")
        if os.path.isdir(path):
            base = base.unionByName(
                self.spark.read.parquet(path).select(*TILE_COLUMNS))
        return base

    def tile_count(self) -> int:
        """Exact generated-tile count without a Spark job: the parquet
        footers of the tiles and subtree stores.  The reference's
        equivalent is ``tileCoords.length`` — an in-memory array length
        — so serving the count from store metadata is the
        parity-faithful shape; pinned equal to ``tiles().count()`` by
        tests."""
        return sum(d.count_rows() for d in (
            self._dataset("tiles"), self._dataset("subtree")) if d)

    _TILEFEAT_COLS = ["ord_path", "gtype", "coords", "rlens",
                      "tags_json", "fid_json"]
    _PACK_COLS = ["ftypes", "fnrings", "frlens", "fcoords",
                  "ftags", "ffids"]

    def _assemble_features(self, rows) -> list:
        """Materialize per-feature rows (packed integer geometry) into
        the tile's features list, ordered by ord_path.  JSON/object
        rendering happens here at read time — the build stores arrays."""
        from .kernel.vec import feature_obj
        rows = sorted(rows, key=lambda r: tuple(r["ord_path"]))
        return [feature_obj(int(r["gtype"]), r["coords"], r["rlens"],
                            r["tags_json"], r["fid_json"])
                for r in rows if r["gtype"]]

    @staticmethod
    def _unpack_tile_features(r) -> list:
        """Subtree tile row → features list (same packed encoding,
        whole tile in one row)."""
        from .kernel.vec import feature_obj
        out = []
        ri = ci = 0
        frlens = r["frlens"]
        fcoords = r["fcoords"]
        for i, t in enumerate(r["ftypes"]):
            nr = int(r["fnrings"][i])
            rl = frlens[ri:ri + nr]
            ri += nr
            c2 = 2 * int(sum(rl))
            fc = fcoords[ci:ci + c2]
            ci += c2
            out.append(feature_obj(int(t), fc, rl,
                                   r["ftags"][i], r["ffids"][i]))
        return out


    def enumerate_tiles(self) -> dict[str, list]:
        """genTiles equivalent (/root/reference/test/test-full.js:49-64):
        every generated tile's transformed features keyed z{z}-{x}-{y}.

        Small-scale/test path: reads every tile onto the driver."""
        out = {}
        if not self._read_lineage():
            return out
        for r in self._read("tiles"):
            out[f"z{r['z']}-{r['x']}-{r['y']}"] = []
        grouped: dict[str, list] = {}
        for r in self._read("tilefeat", self._TILEFEAT_COLS):
            grouped.setdefault(f"z{r['z']}-{r['x']}-{r['y']}", []).append(r)
        for key, rows in grouped.items():
            out[key] = self._assemble_features(rows)
        for r in self._read("subtree", self._PACK_COLS):
            out[f"z{r['z']}-{r['x']}-{r['y']}"] = \
                self._unpack_tile_features(r)
        for r in self._drill_tiles.values():
            out[f"z{r['z']}-{r['x']}-{r['y']}"] = \
                self._unpack_tile_features(r)
        return out

    def total_tiles(self) -> int:
        """Stored tiles plus the tiles drill-downs added."""
        base = self.tile_count() if self._read_lineage() else 0
        return base + len(self._drill_tiles)

    # ------------------------------------------------------------ getTile

    def get_tile(self, z, x, y):
        """Tile lookup with lazy drill-down
        (/root/reference/src/index.js:158-199): a one-key get_tiles."""
        return self.get_tiles([(z, x, y)])[(z, x, y)]

    def get_tiles(self, coords) -> dict:
        """Batch getTile: {request: tile or None} for many (z, x, y)
        requests, with getTile's semantics (x wraps, z outside 0..24 is
        None, a miss drills down).  No Spark job runs: the hits come
        from one tilefeat and one subtree read, the misses' drills from
        one meta read and one source read.  Misses drill in
        request order, so tiles an earlier drill made serve later
        requests.  One call runs at a time per engine."""
        norm: dict = {}
        for c in coords:
            c = tuple(c)
            z, x, y = (int(float(v)) for v in c)
            norm[c] = (None if z < 0 or z > 24
                       else (z, (x + (1 << z)) & ((1 << z) - 1), y))
        out: dict = {}
        with self._serve_lock:
            keys = [k for k in dict.fromkeys(norm.values())
                    if k is not None and to_id(*k) not in self._drill_tiles]
            feats: dict = {}
            if keys and self._read_lineage():
                feats = self._stored_tiles(keys)
                self._drill_misses([k for k in keys if k not in feats])
            for c, k in norm.items():
                t = None if k is None else self._drill_tiles.get(to_id(*k))
                f = (self._unpack_tile_features(t) if t is not None
                     else feats.get(k))
                out[c] = None if f is None else {
                    "features": f, "z": k[0], "x": k[1], "y": k[2]}
        return out

    def _stored_tiles(self, keys) -> dict:
        """(z,x,y) → features of the stored tiles among ``keys``: a
        tiles-store tile from its tilefeat rows (none for an empty
        tile), a subtree tile from its one packed row."""
        stats = self._stats()
        grouped: dict = {k: [] for k in keys if k in stats}
        for r in self._read("tilefeat", self._TILEFEAT_COLS, list(grouped)):
            grouped[(r["z"], r["x"], r["y"])].append(r)
        out = {k: self._assemble_features(rows)
               for k, rows in grouped.items()}
        for r in self._read("subtree", self._PACK_COLS,
                            [k for k in keys if k not in stats]):
            out[(r["z"], r["x"], r["y"])] = self._unpack_tile_features(r)
        return out

    def _drill_misses(self, misses) -> None:
        """getTile's drill-down for each miss in turn: walk up to the
        nearest ancestor that still holds a non-empty source and split
        it toward the miss (_drill).  One read fetches has_source of the
        ancestors outside the stats cache, one read the sources of the
        stored ancestors that keep one — a stored source belongs to a
        leaf, so each chain holds at most one.  An earlier drill's
        off-path tiles hold theirs in the overlay."""
        chains = {(z, x, y): [(z - d, x >> d, y >> d)
                              for d in range(1, z + 1)]
                  for z, x, y in misses}
        stats = self._stats()
        sub = {(r["z"], r["x"], r["y"]): r for r in self._read(
            "subtree", _META_COLUMNS,
            {a for ch in chains.values() for a in ch if a not in stats})}

        def meta(a):
            return stats.get(a) or sub.get(a)

        sources = self._stored_sources(
            {a for ch in chains.values() for a in ch
             if to_id(*a) not in self._consumed_sources
             and (m := meta(a)) is not None and m["has_source"]})
        for k, chain in chains.items():
            if to_id(*k) in self._drill_tiles:
                continue  # an earlier miss's drill made it
            for a in chain:
                aid = to_id(*a)
                if aid in self._consumed_sources:
                    continue
                part = self._drill_sources.get(aid)
                state = (sources.get(a) if part is None
                         else _arrow_state(part))
                if state is not None and state[0].n_feats:
                    self._drill(state, a, k)
                    break

    def _stored_sources(self, keys) -> dict:
        """(z,x,y) → the retained source of each stored tile in
        ``keys`` that keeps one, as kernel state read by the Arrow
        ingress (ordered by ord_path): a leaf's rows of the sources
        store, a root-only z0's z0 frontier (the features
        checkpoint)."""
        tbl = self._table("sources", FEATURE_COLUMNS, keys)
        out = ({} if tbl is None else
               {k: _arrow_state(part)
                for k, part in _cell_tables(tbl).items()})
        if (0, 0, 0) in keys:
            out[(0, 0, 0)] = _arrow_state(
                self._dataset("features").to_table(columns=FEATURE_COLUMNS))
        return out

    def _drill(self, state, root, target) -> None:
        """splitTile's drill-down pass (src/index.js:66-156 with cz/cx/cy)
        on the build's batch kernel, in-process on the driver: split
        ``state`` — ``root``'s retained source as kernel state — toward
        ``target``.  The new tiles, in splitTile's creation order, and
        the sources the tiles off the target path keep land in the
        in-memory overlay as the stores keep them: a tile row packed as
        in the subtree store, unpacked only when a read returns it, and
        a source as its FEATURE rows."""
        rid = to_id(*root)
        self._consumed_sources.add(rid)
        self._drill_sources.pop(rid, None)
        tile_rows, sources = batch_split_subtree(
            None, *root, self.options, state=state,
            root_forced_split=False, target=target)
        for r in tile_rows[1:]:  # the root's own row: it exists already
            self._drill_tiles[r["tile_id"]] = r
            if r["is_split"]:
                self._consumed_sources.add(r["tile_id"])
        for key, part in _cell_tables(sources).items():
            if key != root:
                self._drill_sources[to_id(*key)] = part

    def tile_coords(self) -> list[tuple[int, int, int]]:
        """Insertion-ordered tile enumeration matching the reference's
        ``tileCoords`` (/root/reference/src/index.js:37,87).

        The reference appends tiles in splitTile's stack order — DFS
        pre-order visiting children br, tr, bl, tl first — which is
        fully determined by the built tile SET (a split tile always has
        all four children), so it is reconstructed here from the stores;
        drill-down tiles follow in creation order, exactly as getTile
        appends them.  Enumeration surface (tests/manifests): O(n_tiles)
        driver memory by nature, not a serving path."""
        out: list[tuple[int, int, int]] = []
        if self._read_lineage():
            present = {(r["z"], r["x"], r["y"])
                       for r in (self._read("tiles")
                                 + self._read("subtree"))}
            stack = [(0, 0, 0)] if (0, 0, 0) in present else []
            while stack:
                z, x, y = stack.pop()
                out.append((z, x, y))
                # push tl, bl, tr, br so br pops first (index.js:151-154)
                stack.extend(k for k in (
                    (z + 1, 2 * x, 2 * y), (z + 1, 2 * x, 2 * y + 1),
                    (z + 1, 2 * x + 1, 2 * y),
                    (z + 1, 2 * x + 1, 2 * y + 1)) if k in present)
        seen = set(out)
        out.extend(k for t in self._drill_tiles.values()
                   if (k := (t["z"], t["x"], t["y"])) not in seen)
        return out
