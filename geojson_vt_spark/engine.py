"""SparkTileEngine — the distributed tile pyramid.

geojson-vt builds its pyramid with one recursive splitTile and one stop
rule (src/index.js:66-156).  The engine builds it in one shape too: a
quadtree CUT of the tile tree, decided from the z0 stats (plus one slim
gate job when they do not settle it), then one wave per kind of cell:

    z0 frontier --narrow render-------------------> tilefeat/z=0
        |--route to LEAF cells, slot wave---------> subtree b=1
        |--INTERNAL cells, narrow in-task walk----> tilefeat/z=N
        '--STRAGGLER cells, exact probe + walk----> tilefeat, sources
    driver: tiles/z=N stats rows, lineage rows (written last)

Cut shapes (see _build_forest): root-only when the z0 tile stops,
depth-1 (the four z1 cells as leaves) when the stats prove it or
index_max_zoom is 1, otherwise gated with internal cells down to
_FOREST_MAX_LEVEL and stragglers for over-budget cells no prover can
split.

Scale design notes (SURVEY.md §4/§7):
- the only shuffles are the gate/probe aggregations (≤ 4^level slim
  rows) and the leaf wave's slot exchange; every render is a narrow map,
  so the z0 tile holding the whole corpus never funnels into one task;
- driver state is O(cut cells), not O(4^z tiles): the leaf subtrees are
  built in-task by the batch kernel and written task-side;
- a dateline-wrapping input is written once as frontier/z=0 (wrap_df's
  world copies); otherwise the z0 frontier is a view over the features
  checkpoint;
- lineage lands only after every store is durable: a kill before the
  final row restarts cleanly from the z0 frontier, and a finished
  build whose subtree store is lost re-runs the leaf wave from the leaf
  keys the final row records;
- lazy drill-down (getTile miss) replays the kernel split over the
  retained source of the nearest ancestor, pruned to the target path.

Run the session with ``spark.scheduler.mode=FAIR``: the z0 render runs
concurrently with the gate and the waves, and FIFO queues the small
jobs behind the big stages.
"""

from __future__ import annotations

import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession, functions as F

from .kernel.index import to_id
from .model import FEATURE_COLUMNS, FEATURE_SCHEMA
from .options import TileOptions
from .pipeline import (_NV_SQL, _dbl, features_from_json_df,
                       forest_gate_df, forest_route_df, forest_slot_wave_df,
                       geojson_to_input_rows, internal_tree_direct,
                       rendered_features_df, straggler_probe_stats, wrap_df)

TILE_COLUMNS = ["z", "x", "y", "tile_id", "num_features", "num_points",
                "num_simplified", "minx", "miny",
                "maxx", "maxy", "is_split", "has_source"]

# stats of a tile with no features (src/tile.js:14-17 sentinel bbox): a
# leaf that keeps its (empty) source
_EMPTY_TILE_STATS = [0, 0, 0, 2.0, 1.0, -1.0, 0.0, False, True]


def _pack_xy(x: int, y: int) -> int:
    return (x << 25) | y


def _pack_col():
    return (F.shiftleft(F.col("x").cast("long"), 25)
            + F.col("y").cast("long"))


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
        # drill-down overlay: tiles/sources created by get_tile after build
        self._drill_tiles: dict[int, dict] = {}
        self._drill_sources: dict[int, list] = {}
        self._consumed_sources: set[int] = set()
        # driver-side cache of the tiles-store stats (internal cut cells,
        # stops and empties: O(cut), NOT the 4^z subtree output):
        # existence, has_source and bbox checks become dict lookups
        # instead of one Spark job per getTile.  Subtree tiles resolve
        # through keyed parquet lookups, memoized below.
        self._stats_cache: dict | None = None
        self._sub_meta_cache: dict = {}
        # batched-drill source cache: (z,x,y) → list of FEATURE record
        # dicts, filled by _prefetch_drill so a miss-driven get_tiles
        # batch drills entirely on warm caches (O(ancestors asked
        # about), not data-proportional)
        self._source_rows_cache: dict = {}
        # memoized store readers: parquet listing/schema discovery runs
        # once per engine lifetime, not once per lookup call
        self._df_cache: dict = {}
        # per-build forest bookkeeping: leaf work estimates (the slot
        # wave's LPT weights) and step figures for the lineage row
        self._forest_leaf_work: dict = {}
        self._forest_vprobe_sec: float | None = None
        self._forest_slot_bins: int | None = None
        import threading
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
        """The z0 frontier: frontier/z=0 when a dateline-wrapping input
        wrote its world copies there, else a zero-copy view over the
        converted features checkpoint plus constant columns — the whole
        corpus is not rewritten a second time just to gain (z=0, x=0,
        y=0) literals."""
        path = self._p("frontier", "z=0")
        if os.path.isdir(path):
            return self.spark.read.parquet(path)
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

        Each commit records WHICH store directories it made durable and
        their exact file manifests (name + byte size), then atomically
        advances VERSION.json (write-temp + rename — the same
        single-pointer commit protocol Iceberg's version-hint uses).
        A reader that follows VERSION → snapshot → manifests sees only
        complete commits; ``verify_snapshot`` audits the manifests
        against the filesystem, catching truncated or deleted files
        that a bare directory listing would miss.  The container has no
        Iceberg runtime (BENCH notes); this reproduces the metadata
        semantics the north rule needs — snapshot isolation for
        resume — on plain parquet dirs."""
        if "zoom" in row:
            z = row["zoom"]
            op = "append-zoom"
            stores = [f"tiles/z={z}", f"tilefeat/z={z}",
                      f"frontier/z={z}", f"sources/z={z}", "features"]
        elif "subtree_batch" in row:
            op = "subtree-batch"
            stores = [f"subtree/b={row['subtree_batch']}"]
        else:
            op = "misc"
            stores = []
        manifests = {}
        for s in stores:
            p = self._p(*s.split("/"))
            if not os.path.isdir(p):
                continue
            manifests[s] = [
                {"name": fn, "bytes": os.path.getsize(os.path.join(p, fn))}
                for fn in sorted(os.listdir(p))]
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
        # route through the converted-features checkpoint: the wrap
        # decision + z0 stats ride the checkpoint write
        self.build_from_converted(features_from_json_df(df, self.options))

    # the forest task budget in vertex-levels (a cell's vertex mass × the
    # levels its subtree spans), ~1.5-2 s per task at the measured batch-
    # kernel rate (~300-500k vertex-levels/sec per core after the round-2
    # vectorization).  It sizes leaf cells, the slot wave's LPT bins and
    # the straggler bound; a smaller budget also bounds the skew
    # straggler (the hottest metro cell's subtree task)
    _KERNEL_PTS_PER_TASK = 600_000

    def _frontier0_view(self, src: DataFrame) -> DataFrame:
        """z0 frontier view over an already-converted features frame
        (same shape _read_frontier0 serves from the checkpoint)."""
        return src.selectExpr(
            "0 AS z", "0 AS x", "0 AS y",
            "concat(array(CAST(1 AS BIGINT)), ord_path, "
            "array(CAST(0 AS BIGINT))) AS ord_path",
            *[c for c in FEATURE_COLUMNS if c != "ord_path"],
            f"{_NV_SQL} AS n_verts")

    def _ingest_aggs(self) -> list:
        """z0 classification stats (z0 holds exactly one tile, so they
        are global aggregates) plus the left/right wrap-candidate
        counts, as SQL-text aggregates for one observed pass over the
        features."""
        b = self.options.buffer / self.options.extent
        return [F.expr(e) for e in (
            f"sum(CAST(minx <= {_dbl(b)} AS BIGINT)) AS l",
            f"sum(CAST(maxx >= {_dbl(1 - b)} AS BIGINT)) AS r",
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
        """Build the pyramid from converted FEATURE_SCHEMA rows.

        ONE ingest job: the features checkpoint write carries the
        wrap-candidate counts and z0 stats as observed metrics, so the
        checkpoint is durable and the cut's first decision is known
        before any other job runs.  Without world copies the z0
        frontier is a view over this checkpoint (``_read_frontier0``) —
        one materialization of the corpus, not two.  A dateline-wrapping
        input (non-zero left/right counts) hands ``wrap_df``'s
        left ++ centre ++ right copies to ``build``, which writes them
        once as frontier/z=0 and observes the z0 stats on that write.

        ``approx_rows`` is accepted for callers that pass a rough
        feature count and is ignored: the cut is chosen from the exact
        observed stats."""
        from pyspark.sql import Observation

        path = self._p("features")
        if resume and os.path.exists(os.path.join(path, "_SUCCESS")):
            row = self._read_features().agg(*self._ingest_aggs()).first()
        else:
            obs = Observation()
            (features_df.observe(obs, *self._ingest_aggs())
             .write.mode("overwrite").parquet(path))
            row = obs.get
        counts = (int(row["l"] or 0), int(row["r"] or 0))
        if counts[0] or counts[1]:
            self.build(wrap_df(self._read_features(), self.options,
                               counts=counts), resume=resume)
        else:
            self.build(None, resume=resume, z0_stats=self._z0_stats(row))

    def _write_frontier0(self, features_df: DataFrame) -> dict | None:
        """Write wrapped features once as frontier/z=0, in the layout
        _read_frontier0 serves, and return the z0 stats observed on
        that same write (they count the world copies)."""
        from pyspark.sql import Observation

        obs = Observation()
        (features_df.selectExpr("0 AS z", "0 AS x", "0 AS y",
                                *FEATURE_COLUMNS, f"{_NV_SQL} AS n_verts")
         .observe(obs, *self._ingest_aggs())
         .write.mode("overwrite").parquet(self._p("frontier", "z=0")))
        return self._z0_stats(obs.get)

    # forest-wave cut: deepest subdivision level (gate cells grow 4^L;
    # past z6 the cut bookkeeping stops paying).  Cells below it are
    # blind leaves or stragglers, so no input is too large for the cut.
    _FOREST_MAX_LEVEL = 6

    # leaves above this many task budgets of estimated work are probed
    # and rendered partition-spread instead of becoming one wave task;
    # 2x keeps every wave task within ~2x the median budget-sized task
    # (round-4 residual: 19/119 over-budget leaves, one 13 s straggler)
    _FOREST_STRAGGLER = 2

    def _forest_cut_proven(self, n_points: int) -> bool:
        """True when the z0 stats alone prove the cut is exactly the
        four z1 cells as leaves, so no gate job is needed.  With
        index_max_zoom 1 the z1 cells sit at the ceiling and stop
        whatever their mass.  Otherwise a z1 cell holds at most the
        whole corpus, so its work m × (imz - 1) is at most
        ``n_points × (imz - 1)``, and at or under the task budget
        (hence under the straggler bound) the walk of _forest_cut makes
        every non-empty z1 cell a leaf.  Zero-mass cells get no routed
        rows and are back-filled from missing acks, exactly as the
        gate's empties would be."""
        imz = self.options.index_max_zoom
        return imz == 1 or n_points * (imz - 1) <= self._KERNEL_PTS_PER_TASK

    def _forest_cut(self, gate_rows, fr0=None) -> tuple:
        """Quadtree cut from the gate masses: walk from the 4 z1 cells;
        a cell subdivides (INTERNAL — distributed narrow render of its
        own tile) while it is guaranteed-split, still above the leaf
        budget, and above neither the index_max_zoom ceiling nor
        _FOREST_MAX_LEVEL; otherwise it becomes a LEAF (one
        slot-wave subtree task, its root classified by the normal
        stop rule in-kernel).  Zero-mass children of internal cells
        are recorded for the driver-side empty back-fill
        (index.js:151-154 pushes ``tl || []``).

        Guaranteed-split has TWO provers, both exact lower bounds on
        the cell tile's post-clip num_points (> index_max_points ⇒
        src/index.js:105-107 splits):
        - the gate's fully-inside bbox mass ``i`` (free, rides the
          gate job) — blind on dense clusters straddling a cell edge;
        - the vertex-survival count ``v`` (pipeline.
          forest_vertex_probe_df) — one cheap second job, run only
          when the walk meets over-budget cells ``i`` cannot prove
          (the measured forest skew: twin boundary cells with
          identical duplicated candidate mass, i == 0, 15 s of
          serial kernel each).  Internal cells are eligible up to
          l == _FOREST_MAX_LEVEL; their children beyond the gate's
          deepest level are BLIND (no gate row): each is estimated at
          a quarter of its parent's mass over the imz - l levels its
          subtree renders, and joins the cut as a leaf (routed by bbox,
          zero-row ones back-filled from missing acks) or, over the
          straggler bound, as a straggler.

        A cell over _FOREST_STRAGGLER task budgets that NEITHER
        prover can split (e.g. a giant ring enclosing the cell with
        every vertex outside) is returned as a STRAGGLER: its exact
        stop boundary is then measured by the full clip-descent probe
        (straggler_probe_stats) and its subtree rendered
        partition-spread by internal_tree_direct, never funneled into
        one wave task."""
        opts = self.options
        imz = opts.index_max_zoom
        imp = opts.index_max_points
        budget = self._KERNEL_PTS_PER_TASK
        max_lvl = self._FOREST_MAX_LEVEL
        straggler = self._FOREST_STRAGGLER
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
            stragglers: list = []
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
                            elif blind > straggler * budget:
                                stragglers.append(c)
                            else:
                                leaves.append(c)
                                leaf_work[c] = blind
                elif eligible and vcells is None:
                    opaque.append((l, x, y))
                elif work > straggler * budget:
                    stragglers.append((l, x, y))
                else:
                    leaves.append((l, x, y))
                    leaf_work[(l, x, y)] = work
            return leaves, internals, empties, stragglers, opaque

        leaves, internals, empties, stragglers, opaque = walk(None)
        if opaque and fr0 is not None:
            from .pipeline import forest_vertex_probe_df
            lmin = min(l for l, _, _ in opaque)
            levels = list(range(lmin, min(max_lvl, imz - 1) + 1))
            _t = time.monotonic()
            v_rows = forest_vertex_probe_df(fr0, opts, opaque,
                                            levels).collect()
            self._forest_vprobe_sec = round(time.monotonic() - _t, 2)
            vcells = {(int(r["lvl"]), int(r["x"]), int(r["y"])):
                      int(r["v"] or 0) for r in v_rows}
            leaves, internals, empties, stragglers, _ = walk(vcells)
        elif opaque:
            # no frontier handle (unit-test path): unprovable cells
            # fall through exactly as pre-probe semantics
            leaves, internals, empties, stragglers, _ = walk({})
        return (leaves, internals, empties, stragglers)

    def _straggler_boundary(self, probe_acks, stragglers) -> tuple:
        """Place the exact stop boundary under each probed straggler
        cell from the summed (z, x, y, num_points) partials: a node
        SPLITS iff num_points > index_max_points and z < index_max_zoom
        (src/index.js:105-107 on exact post-clip counts).  Split nodes
        become internal-render cells, non-split nodes are STOP tiles
        (render + retained source), and a split node's zero-row
        children join the empty back-fill."""
        opts = self.options
        imp, imz = opts.index_max_points, opts.index_max_zoom
        tot: dict = {}
        for r in probe_acks:
            k = (int(r["z"]), int(r["x"]), int(r["y"]))
            tot[k] = tot.get(k, 0) + int(r["n_points"])
        internals: list = []
        stops: list = []
        empties: list = []
        stack = [tuple(int(v) for v in c) for c in stragglers]
        while stack:
            z, x, y = stack.pop(0)
            if tot.get((z, x, y), 0) > imp and z < imz:
                internals.append((z, x, y))
                for dy in (0, 1):
                    for dx in (0, 1):
                        c = (z + 1, 2 * x + dx, 2 * y + dy)
                        if tot.get(c, 0) > 0:
                            stack.append(c)
                        else:
                            empties.append(c)
            else:
                stops.append((z, x, y))
        return internals, stops, empties

    # g -> slot ints; the hash cannot change within one JVM, so each
    # bin count costs its tiny Spark job once per process
    _SLOT_VALUES: dict = {}

    def _slot_values(self, g: int) -> list:
        """Ints v_0..v_{g-1} whose Spark murmur3 shuffle bucket
        (pmod(hash(int v), g)) is a bijection onto 0..g-1 — computed BY
        Spark in one tiny job, so the driver's bin assignment and the
        wave's HashPartitioning agree exactly (no reimplemented hash
        to drift)."""
        if g in self._SLOT_VALUES:
            return list(self._SLOT_VALUES[g])
        vals: list = [None] * g
        lo, missing = 0, g
        while missing:
            rows = (self.spark.range(lo, lo + 32 * g)
                    .select(F.col("id").cast("int").alias("v"),
                            F.pmod(F.hash(F.col("id").cast("int")),
                                   F.lit(g)).alias("b")).collect())
            for r in rows:
                if vals[r["b"]] is None:
                    vals[r["b"]] = int(r["v"])
                    missing -= 1
            lo += 32 * g
        self._SLOT_VALUES[g] = vals
        return list(vals)

    def _forest_leaf_wave(self, leaves, routed: DataFrame | None = None
                          ) -> list:
        """The forest wave's LEAF-subtree job: route the z0 frontier to
        the leaf cut cells and clip each whole descendant subtree
        in-task into subtree b=1.

        Shape: DRIVER-PACKED slots — the cut's per-leaf work estimates
        are LPT-packed into ceil(total/budget) bins (never fewer than
        the fleet's slots), each bin becomes exactly one task via
        driver-chosen slot ints (see _slot_values), and the task slices
        its rows per cell through the per-cell kernel
        (pipeline.forest_slot_wave_df).  groupBy(z,x,y) would place
        groups by hash instead, where two hot cells colliding into one
        task double the wave wall and no bin-packing is possible; with
        ~2 cells/partition such collisions are the common case, and
        wave wall = max task IS the term a cluster pays.

        Factored out of _build_forest so a resume (build) can
        re-create a lost subtree store from the cut keys recorded in
        the final lineage row — the z0 frontier it reads is still on
        disk for any resumable workdir (estimates are absent there: the
        pack falls back to uniform weights, same disk layout either
        way)."""
        import heapq
        import shutil
        opts = self.options
        if routed is None:
            routed = forest_route_df(self._read_frontier0(), opts,
                                     [tuple(c) for c in leaves])
        est = self._forest_leaf_work
        werk = sorted(((est.get(tuple(c), 1), tuple(c)) for c in leaves),
                      reverse=True)
        total = sum(w for w, _ in werk)
        par = self.spark.sparkContext.defaultParallelism
        n_bins = max(1, min(len(leaves),
                            max(par, -(-total
                                       // max(self._KERNEL_PTS_PER_TASK,
                                              1)))))
        slot_vals = self._slot_values(n_bins)
        self._forest_slot_bins = n_bins
        slot_map: dict = {}
        heap = [(0, b) for b in range(n_bins)]
        heapq.heapify(heap)
        for w, c in werk:
            load, b = heapq.heappop(heap)
            slot_map[c] = slot_vals[b]
            heapq.heappush(heap, (load + w, b))
        restore: dict = {}
        conf = self.spark.conf
        for k, v in (
                ("spark.sql.adaptive.coalescePartitions.enabled",
                 "false"),
                ("spark.sql.shuffle.partitions", str(n_bins))):
            restore[k] = conf.get(k)
            conf.set(k, v)
        try:
            self._set_pool("gvt-subtree")
            out = self._p("subtree", "b=1")
            if os.path.isdir(out):
                shutil.rmtree(out)
            pairs = ", ".join(f"{(z << 50) | (x << 25) | y}L, {v}"
                              for (z, x, y), v in slot_map.items())
            cand = routed.withColumn("slot", F.expr(
                f"CAST(map({pairs})[CAST(z AS BIGINT) * "
                "1125899906842624L + CAST(x AS BIGINT) * 33554432L "
                "+ CAST(y AS BIGINT)] AS INT)"))
            acks = forest_slot_wave_df(cand, opts, out_dir=out).collect()
            os.makedirs(out, exist_ok=True)
            open(os.path.join(out, "_SUCCESS"), "w").close()
            return acks
        finally:
            for k, v in restore.items():
                self.spark.conf.set(k, v)


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

    def _build_forest(self, r0: dict, pool, futures) -> None:
        """The whole pyramid from the z0 frontier, in one quadtree cut
        whose shape follows the z0 stats ``r0``:

        - ROOT-ONLY: the z0 tile stops (num_points ≤ index_max_points,
          or index_max_zoom 0).  z0 renders and keeps its source
          (sources/z=0 holds the z0 frontier rows); no other tile
          exists.
        - DEPTH-1: the four z1 cells are leaves, with no gate job, when
          index_max_zoom is 1 or the stats prove it
          (_forest_cut_proven).  Every small corpus takes this cut.
        - GATED: forest_gate_df measures per-cell masses and _forest_cut
          walks them into leaf, internal, empty and straggler cells.

        The stages, concurrent where independent:
        - z0 renders at once: it depends only on the frontier, so it
          overlaps the gate and vertex-probe jobs (FAIR pools share the
          fleet between them).  Its future joins ``futures``, so the
          caller awaits it even when the cut raises.
        - LEAF cells → slot-wave subtree tasks (_forest_leaf_wave: clip
          z0→cell in-task, then the whole descendant pyramid) into
          subtree b=1.
        - INTERNAL cells → internal_tree_direct: ONE narrow mapInArrow
          job whose tasks walk their partition of the z0 frontier down
          the internal tree — clip one level per node on the shrinking
          parent state, render through the shared kernel; an internal
          tile's features stay spread across scan partitions exactly
          like the z0 render (no per-tile funnel), tilefeat parts are
          written task-side and stats rows come back as slim acks.
        - STRAGGLER cells → straggler_probe_stats places their exact
          stop boundary, then the same walk renders them; their stop
          tiles also write sources/z=N.
        The driver then writes the tiles/z=N stats rows (z0, internal
        and stop cells, empty back-fills) and the lineage rows LAST, so
        a kill anywhere restarts the build cleanly."""
        from pyspark.sql import Observation
        opts = self.options
        t0 = time.monotonic()
        fr0 = self._read_frontier0()  # planned once per build
        steps: dict = {}
        obs_r = Observation()

        def render_job():
            self._set_pool("gvt-render")
            _t = time.monotonic()
            (rendered_features_df(fr0, opts).drop("z")
             .observe(obs_r, F.sum("n_simplified").alias("ns"))
             .write.mode("overwrite")
             .parquet(self._p("tilefeat", "z=0")))
            steps["render0"] = round(time.monotonic() - _t, 2)

        fut_render = pool.submit(render_job)
        futures.append(fut_render)

        n0 = int(r0["num_points"])
        root_only = (opts.index_max_zoom == 0
                     or n0 <= opts.index_max_points)
        leaves, internals, empties, stragglers = [], [], [], []
        self._forest_leaf_work = {}
        self._forest_vprobe_sec = self._forest_slot_bins = None
        gate_sec = fut_src = None
        if root_only:
            def source_job():
                self._set_pool("gvt-sources")
                (fr0.drop("z").write.mode("overwrite")
                 .parquet(self._p("sources", "z=0")))

            fut_src = pool.submit(source_job)
            futures.append(fut_src)
        elif self._forest_cut_proven(n0):
            leaves = [(1, x, y) for y in (0, 1) for x in (0, 1)]
        else:
            _tg = time.monotonic()
            leaves, internals, empties, stragglers = self._forest_cut(
                forest_gate_df(fr0, opts, self._FOREST_MAX_LEVEL).collect(),
                fr0=fr0)
            gate_sec = round(time.monotonic() - _tg, 2)
        # only LEAF cells go through the grouped wave; internal cells
        # are rendered by the in-task walk below, straggler cells
        # (over-budget, unprovable split) by the probe + the same walk
        routed = forest_route_df(fr0, opts, leaves) if leaves else None

        walk: dict = {"acks": [], "stops": [], "extra_empties": [],
                      "internals": list(internals)}

        def internal_job():
            self._set_pool("gvt-internal")
            if stragglers:
                # exact stop boundary first: one slim distributed
                # probe, then the straggler subtrees render through
                # the SAME partition-spread walk as internal cells
                _t = time.monotonic()
                acks = straggler_probe_stats(
                    fr0, stragglers, opts).collect()
                s_int, s_stop, s_emp = self._straggler_boundary(
                    acks, stragglers)
                steps["probe"] = round(time.monotonic() - _t, 2)
                steps["n_stragglers"] = len(stragglers)
                steps["n_stops"] = len(s_stop)
                walk.update(internals=list(internals) + s_int,
                            stops=s_stop, extra_empties=s_emp)
            if not (walk["internals"] or walk["stops"]):
                return
            _t = time.monotonic()
            walk["acks"] = internal_tree_direct(
                fr0, walk["internals"], opts, self._p("tilefeat"),
                stops=walk["stops"], sources_root=self._p("sources"))
            steps["internal"] = round(time.monotonic() - _t, 2)

        fut_int = None
        if internals or stragglers:
            fut_int = pool.submit(internal_job)
            futures.append(fut_int)

        _t1 = time.monotonic()
        leaf_acks = (self._forest_leaf_wave(leaves, routed=routed)
                     if leaves else [])
        wave_sec = time.monotonic() - _t1
        for fut in (fut_int, fut_src):
            if fut is not None:
                fut.result()
        _t2 = time.monotonic()
        fut_render.result()
        render_wait = time.monotonic() - _t2
        ns0 = int(obs_r.get["ns"] or 0)

        merged: dict = {}
        for r in walk["acks"]:
            key = (int(r["z"]), int(r["x"]), int(r["y"]))
            cur = merged.get(key)
            if cur is None:
                merged[key] = [int(r["n_feats"]), int(r["n_points"]),
                               int(r["n_sim"]), float(r["minx"]),
                               float(r["miny"]), float(r["maxx"]),
                               float(r["maxy"])]
            else:
                cur[0] += int(r["n_feats"])
                cur[1] += int(r["n_points"])
                cur[2] += int(r["n_sim"])
                cur[3] = min(cur[3], float(r["minx"]))
                cur[4] = min(cur[4], float(r["miny"]))
                cur[5] = max(cur[5], float(r["maxx"]))
                cur[6] = max(cur[6], float(r["maxy"]))
        # one tiles/z=N write per level: z0, internal-cell stats rows
        # and empty-children sentinels.  Straggler STOP cells are leaf
        # tiles (is_split=False, has_source=True); a stop cell with no
        # ack clipped empty everywhere and joins the sentinel back-fill.
        # Leaves that received no candidate rows (blind leaves, or z1
        # cells of a stats-proven cut) produce no wave group and no
        # subtree part: back-fill them from the missing acks too.
        stop_set = {tuple(c) for c in walk["stops"]}
        acked = {(int(r["z"]), int(r["x"]), int(r["y"]))
                 for r in leaf_acks}
        all_empties = (list(empties) + list(walk["extra_empties"])
                       + [c for c in stop_set if c not in merged]
                       + [tuple(c) for c in leaves
                          if tuple(c) not in acked])
        by_level: dict = {0: [(0, 0, [
            r0["num_features"], n0, ns0, r0["minx"], r0["miny"],
            r0["maxx"], r0["maxy"], not root_only, root_only])]}
        for (z, x, y), st in merged.items():
            is_stop = (z, x, y) in stop_set
            by_level.setdefault(z, []).append(
                (x, y, st + [not is_stop, is_stop]))
        for z, x, y in all_empties:
            by_level.setdefault(z, []).append((x, y, _EMPTY_TILE_STATS))
        for z, rows in sorted(by_level.items()):
            self._write_tile_rows(z, rows)
        stop_levels = {c[0] for c in stop_set if c in merged}
        for store, levels in (
                ("tilefeat", {l for l, _, _ in walk["internals"]}
                 | stop_levels),
                ("sources", stop_levels)):
            for z in sorted(levels):
                p = self._p(store, f"z={z}")
                os.makedirs(p, exist_ok=True)
                open(os.path.join(p, "_SUCCESS"), "w").close()

        # lineage lands LAST (resume contract: no final row → clean
        # rebuild from the z0 frontier)
        max_z = max([l for l, _, _ in leaves] + [c[0] for c in stop_set],
                    default=int(not root_only))
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
        # re-create a lost subtree store for a completed build
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
        (tiles(), _subtree_df) as phantom tiles."""
        import shutil
        for store in ("tiles", "tilefeat", "frontier", "sources",
                      "subtree", "snapshots"):
            p = self._p(store)
            if os.path.isdir(p):
                shutil.rmtree(p)
        for p in (self._lineage_path(), self._version_path()):
            if os.path.exists(p):
                os.remove(p)

    def build(self, features_df: DataFrame | None = None,
              resume: bool = False, z0_stats: dict | None = None) -> None:
        """Build the pyramid (the first, cz == null pass of splitTile)
        through the forest cut (_build_forest), the only build path.

        ``features_df``: converted FEATURE_SCHEMA rows, already wrapped
        (wrap_df).  They are written once as frontier/z=0 and the z0
        stats are observed on that same write.  ``None`` means the z0
        frontier is the features checkpoint served as a view, with
        ``z0_stats`` observed by build_from_converted's ingest job.

        ``resume=True``: when the lineage holds the final row the build
        is done, and only a lost subtree store is re-run from the leaf
        keys that row records.  Anything less restarts the build: the
        forest appends its lineage only after every store is durable."""
        if resume:
            final = [r for r in self._read_lineage()
                     if r.get("final") and r.get("forest")]
            if final:
                keys = [tuple(k) for k in final[-1].get("handoff") or []]
                if keys and not os.path.exists(
                        self._p("subtree", "b=1", "_SUCCESS")):
                    self._forest_leaf_wave(keys)
                return
        self._reset_stores()
        r0 = (self._write_frontier0(features_df) if features_df is not None
              else z0_stats)
        pool = ThreadPoolExecutor(max_workers=4)
        futures: list = []
        try:
            if r0 is None:
                # empty input: no tiles, as LocalTileIndex builds none
                self._write_tile_rows(0, [])
                self._append_lineage({
                    "zoom": 0, "n_tiles": 0, "n_points": 0,
                    "forest": True, "complete": True, "final": True})
            else:
                self._build_forest(r0, pool, futures)
        finally:
            for f in futures:
                f.result()
            pool.shutdown()
            self._stats_cache = None
            self._sub_meta_cache.clear()
            self._source_rows_cache.clear()
            self._df_cache.clear()

    # ------------------------------------------------------------ read side

    def _stats(self) -> dict:
        """(z,x,y) → {has_source, bbox} for tiles-store tiles only.

        The tiles store holds O(cut) rows — z0, internal and stop cells,
        empty back-fills — and does not grow with the 4^z subtree
        output, so caching it is driver-safe at any pyramid depth.
        Subtree tiles are served by ``_subtree_meta`` keyed lookups
        instead of being collected."""
        if self._stats_cache is None:
            cache = {}
            if self._read_lineage() and os.path.isdir(self._p("tiles")):
                for r in (self.spark.read.parquet(self._p("tiles"))
                          .select("z", "x", "y", "has_source",
                                  "minx", "miny", "maxx", "maxy").collect()):
                    cache[(r["z"], r["x"], r["y"])] = {
                        "has_source": r["has_source"],
                        "bbox": (r["minx"], r["miny"],
                                 r["maxx"], r["maxy"])}
            self._stats_cache = cache
        return self._stats_cache

    def _subtree_meta(self, z, x, y) -> dict | None:
        """has_source/bbox of one subtree-built tile via a keyed
        (predicate-pushdown) parquet lookup, memoized per request —
        driver memory stays O(tiles actually asked about)."""
        key = (z, x, y)
        if key in self._sub_meta_cache:
            return self._sub_meta_cache[key]
        meta = None
        sub = self._subtree_df()
        if sub is not None:
            rows = (sub.where((F.col("kind") == "tile") &
                              (F.col("z") == z) & (F.col("x") == x) &
                              (F.col("y") == y))
                    .select("has_source", "minx", "miny", "maxx", "maxy")
                    .collect())
            if rows:
                r = rows[0]
                meta = {"has_source": r["has_source"],
                        "bbox": (r["minx"], r["miny"],
                                 r["maxx"], r["maxy"])}
        self._sub_meta_cache[key] = meta
        return meta

    def _tile_meta(self, z, x, y) -> dict | None:
        st = self._stats().get((z, x, y))
        return st if st is not None else self._subtree_meta(z, x, y)

    def warm(self) -> None:
        """Open the tile stores for serving: load the (bounded) stats
        cache and run parquet listing/schema discovery once, so each
        subsequent get_tile is a single pruned read and an all-hit
        get_tiles batch is at most two jobs."""
        self._stats()
        self._tilefeat_df()
        self._subtree_df()

    def _subtree_df(self) -> DataFrame | None:
        if "subtree" not in self._df_cache:
            path = self._p("subtree")
            self._df_cache["subtree"] = (
                self.spark.read.parquet(path) if os.path.isdir(path)
                else None)
        return self._df_cache["subtree"]

    def _tilefeat_df(self) -> DataFrame | None:
        """Root read of the per-feature tile store — the z partition
        column comes from directory discovery, so zoom filters prune."""
        if "tilefeat" not in self._df_cache:
            path = self._p("tilefeat")
            self._df_cache["tilefeat"] = (
                self.spark.read.parquet(path) if os.path.isdir(path)
                else None)
        return self._df_cache["tilefeat"]

    def tiles(self) -> DataFrame:
        base = (self.spark.read.parquet(self._p("tiles"))
                .select(*TILE_COLUMNS))
        sub = self._subtree_df()
        if sub is not None:
            base = base.unionByName(
                sub.where(F.col("kind") == "tile").select(*TILE_COLUMNS))
        return base

    def tile_count(self) -> int:
        """Exact generated-tile count without a Spark job: parquet
        footers for the stats stores plus one slim driver-side 'kind'
        column read over the subtree parts.  The reference's
        equivalent is ``tileCoords.length`` — an in-memory array
        length — so serving the count from store metadata is the
        parity-faithful shape; pinned equal to ``tiles().count()`` by
        tests on every build path."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        total = 0
        troot = self._p("tiles")
        if os.path.isdir(troot):
            for zdir in os.listdir(troot):
                zp = os.path.join(troot, zdir)
                if not (zdir.startswith("z=") and os.path.isdir(zp)):
                    continue
                for f in os.listdir(zp):
                    if f.endswith(".parquet"):
                        total += pq.ParquetFile(
                            os.path.join(zp, f)).metadata.num_rows
        sroot = self._p("subtree")
        if os.path.isdir(sroot):
            for bdir in os.listdir(sroot):
                bp = os.path.join(sroot, bdir)
                if not (bdir.startswith("b=") and os.path.isdir(bp)):
                    continue
                for f in os.listdir(bp):
                    if f.endswith(".parquet"):
                        kinds = pq.read_table(
                            os.path.join(bp, f),
                            columns=["kind"]).column("kind")
                        total += int(pc.sum(pc.equal(
                            kinds, "tile").cast("int64")).as_py() or 0)
        return total

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

        Small-scale/test path: collects every tile.  Distributed tiles
        materialize their features from the rendered per-feature store."""
        out = {}
        if not self._read_lineage():
            return out
        for row in self.tiles().select("z", "x", "y").collect():
            out[f"z{row['z']}-{row['x']}-{row['y']}"] = []
        grouped: dict[str, list] = {}
        tf = self._tilefeat_df()
        if tf is not None:
            for r in (tf
                      .select("z", "x", "y", *self._TILEFEAT_COLS)
                      .collect()):
                grouped.setdefault(
                    f"z{r['z']}-{r['x']}-{r['y']}", []).append(r)
        for key, rows in grouped.items():
            out[key] = self._assemble_features(rows)
        sub = self._subtree_df()
        if sub is not None:
            for r in (sub.where(F.col("kind") == "tile")
                      .select("z", "x", "y", *self._PACK_COLS).collect()):
                out[f"z{r['z']}-{r['x']}-{r['y']}"] = \
                    self._unpack_tile_features(r)
        for tid, tile in self._drill_tiles.items():
            out[f"z{tile['z']}-{tile['x']}-{tile['y']}"] = tile["features"]
        return out

    def total_tiles(self) -> int:
        base = self.tiles().count() if self._read_lineage() else 0
        return base + len(self._drill_tiles)

    # ------------------------------------------------------------ getTile

    def get_tile(self, z, x, y):
        """Tile lookup with lazy drill-down
        (/root/reference/src/index.js:158-199)."""
        z, x, y = int(float(z)), int(float(x)), int(float(y))
        if z < 0 or z > 24:
            return None
        z2 = 1 << z
        x = (x + z2) & (z2 - 1)
        tid = to_id(z, x, y)

        hit = self._lookup(tid, z, x, y)
        if hit is not None:
            return hit

        # walk ancestors to the nearest tile retaining source
        z0, x0, y0 = z, x, y
        parent = None
        while parent is None and z0 > 0:
            z0 -= 1
            x0 >>= 1
            y0 >>= 1
            parent = self._lookup_source(z0, x0, y0)
        if parent is None:
            return None
        self._drill(parent, z0, x0, y0, z, x, y)
        return self._lookup(tid, z, x, y)

    def _lookup(self, tid, z, x, y):
        if tid in self._drill_tiles:
            t = self._drill_tiles[tid]
            return {"features": t["features"], "z": z, "x": x, "y": y}
        if not self._read_lineage():
            return None
        if (z, x, y) in self._stats():
            # tiles-store tile: zero-job existence, one pruned read
            # (the subtree root is never re-emitted there, so dist-first
            # order can't shadow anything)
            tf = self._tilefeat_df()
            rows = []
            if tf is not None:
                rows = (tf.where((F.col("z") == z) & (F.col("x") == x) &
                                 (F.col("y") == y))
                        .select(*self._TILEFEAT_COLS).collect())
            return {"features": self._assemble_features(rows),
                    "z": z, "x": x, "y": y}
        sub = self._subtree_df()
        if sub is not None:
            # known-absent shortcut: a batched meta probe may have
            # already proven this tile does not exist in the subtree
            # store — skip the per-tile read entirely
            if (z, x, y) in self._sub_meta_cache and \
                    self._sub_meta_cache[(z, x, y)] is None:
                return None
            rows = (sub.where((F.col("kind") == "tile") & (F.col("z") == z) &
                              (F.col("x") == x) & (F.col("y") == y))
                    .select(*self._PACK_COLS).collect())
            if rows:
                return {"features": self._unpack_tile_features(rows[0]),
                        "z": z, "x": x, "y": y}
        return None

    def _source_rows(self, z, x, y) -> list:
        """Collect retained-source feature records (plain dicts) for
        (z,x,y) from the sources store (row per feature) and
        the subtree batches (one packed row per leaf tile)."""
        from .pipeline import SOURCE_PACK_COLUMNS, unpack_source_pack
        if (z, x, y) in self._source_rows_cache:
            return self._source_rows_cache[(z, x, y)]
        rows: list[dict] = []
        p1 = self._p("sources", f"z={z}")
        if os.path.isdir(p1):
            rows.extend(
                r.asDict() for r in self.spark.read.parquet(p1)
                .where((F.col("x") == x) & (F.col("y") == y))
                .select(*FEATURE_COLUMNS).collect())
        sub = self._subtree_df()
        if sub is not None:
            for r in (sub.where((F.col("kind") == "source") &
                                (F.col("z") == z) &
                                (F.col("x") == x) & (F.col("y") == y))
                      .select(*SOURCE_PACK_COLUMNS).collect()):
                rows.extend(unpack_source_pack(r))
        return rows

    def _lookup_source(self, z, x, y):
        """Return kernel features of the retained source for (z,x,y), or None."""
        tid = to_id(z, x, y)
        if tid in self._consumed_sources:
            return None
        if tid in self._drill_sources:
            feats = self._drill_sources[tid]
            return feats if feats else None
        st = self._tile_meta(z, x, y)
        if st is None or not st["has_source"]:
            return None
        from .model import record_to_feature
        feats = sorted((record_to_feature(r)
                        for r in self._source_rows(z, x, y)),
                       key=lambda t: t[0])
        return feats if feats else None

    def _drill(self, parent_feats, z0, x0, y0, cz, cx, cy):
        """Targeted split from the ancestor to the requested tile using
        the same kernel; new tiles/sources land in the in-memory overlay.

        parent_feats: sorted list of (ord_path, VTFeature) — one
        retained source, drilled in-process on the driver."""
        from .kernel.clip import clip_features
        from .kernel.tile import create_tile
        from .kernel.transform import transform_tile
        opts = self.options

        feats = [f for _, f in parent_feats]
        self._consumed_sources.add(to_id(z0, x0, y0))
        stack = [(feats, z0, x0, y0, list(range(len(parent_feats))))]
        # keep parallel ord tracking so assembly order matches; kernel
        # clip preserves list order so ordinals stay aligned implicitly
        while stack:
            features, z, x, y, _ords = stack.pop()
            tid = to_id(z, x, y)
            # only the drill root pre-exists in the stores (its source
            # came from a LEAF, which by definition was never split), so
            # descendants need no per-tile store lookups — just the
            # in-memory overlay from earlier drills
            known = (tid in self._drill_tiles
                     or (z, x, y) == (z0, x0, y0))
            if not known:
                tile = create_tile(features, z, x, y, opts)
                transformed = transform_tile(tile, opts.extent)
                self._drill_tiles[tid] = {
                    "z": z, "x": x, "y": y,
                    "features": transformed["features"],
                    "num_points": tile.num_points,
                    "minx": tile.minx, "miny": tile.miny,
                    "maxx": tile.maxx, "maxy": tile.maxy,
                }

            if z == opts.max_zoom or z == cz:
                self._drill_sources[tid] = list(zip(range(len(features)), features))
                continue
            zoom_steps = cz - z
            if x != cx >> zoom_steps or y != cy >> zoom_steps:
                self._drill_sources[tid] = list(zip(range(len(features)), features))
                continue

            self._consumed_sources.add(tid)
            self._drill_sources.pop(tid, None)
            if not features:
                continue

            bbox = self._tile_bbox(tid, z, x, y)
            z2 = 1 << z
            k1 = 0.5 * opts.buffer / opts.extent
            k2, k3, k4 = 0.5 - k1, 0.5 + k1, 1 + k1
            lm = opts.line_metrics
            left = clip_features(features, z2, x - k1, x + k3, 0,
                                 bbox[0], bbox[2], lm)
            right = clip_features(features, z2, x + k2, x + k4, 0,
                                  bbox[0], bbox[2], lm)
            tl = bl = tr = br = None
            if left:
                tl = clip_features(left, z2, y - k1, y + k3, 1, bbox[1], bbox[3], lm)
                bl = clip_features(left, z2, y + k2, y + k4, 1, bbox[1], bbox[3], lm)
            if right:
                tr = clip_features(right, z2, y - k1, y + k3, 1, bbox[1], bbox[3], lm)
                br = clip_features(right, z2, y + k2, y + k4, 1, bbox[1], bbox[3], lm)
            stack.append((tl or [], z + 1, x * 2, y * 2, None))
            stack.append((bl or [], z + 1, x * 2, y * 2 + 1, None))
            stack.append((tr or [], z + 1, x * 2 + 1, y * 2, None))
            stack.append((br or [], z + 1, x * 2 + 1, y * 2 + 1, None))

    def _tile_exists(self, tid, z, x, y) -> bool:
        if tid in self._drill_tiles:
            return True
        return self._tile_meta(z, x, y) is not None

    def _tile_bbox(self, tid, z, x, y):
        if tid in self._drill_tiles:
            t = self._drill_tiles[tid]
            return (t["minx"], t["miny"], t["maxx"], t["maxy"])
        st = self._tile_meta(z, x, y)
        if st is not None:
            return st["bbox"]
        return (2.0, 1.0, -1.0, 0.0)

    def _prefetch_drill(self, misses) -> None:
        """Batch every store lookup a miss-driven drill will need, so
        the per-tile get_tile fallbacks run purely on warm caches and
        the in-process kernel (VERDICT r2 #8 — deep drills were one
        keyed read per ancestor per miss).

        Two jobs bound the whole batch regardless of miss count: one
        keyed subtree probe covering every requested tile + ancestor
        chain (also caching proven ABSENCE, so the misses' own lookups
        go jobless), and one source fetch per touched store for every
        has_source ancestor."""
        if not self._read_lineage():
            return
        from .pipeline import SOURCE_PACK_COLUMNS, unpack_source_pack
        chains: dict = {}
        universe: set = set()
        for k in misses:
            z, x, y = k
            chain = []
            while z > 0:
                z -= 1
                x >>= 1
                y >>= 1
                chain.append((z, x, y))
            chains[k] = chain
            universe.add(k)
            universe.update(chain)
        stats = self._stats()
        sub = self._subtree_df()
        need_meta = [a for a in universe
                     if a not in stats and a not in self._sub_meta_cache]
        if sub is not None and need_meta:
            ids = [to_id(*a) for a in need_meta]
            found = {}
            for r in (sub.where((F.col("kind") == "tile") &
                                F.col("tile_id").isin(ids))
                      .select("z", "x", "y", "has_source",
                              "minx", "miny", "maxx", "maxy").collect()):
                found[(r["z"], r["x"], r["y"])] = {
                    "has_source": r["has_source"],
                    "bbox": (r["minx"], r["miny"],
                             r["maxx"], r["maxy"])}
            for a in need_meta:
                self._sub_meta_cache[a] = found.get(a)

        # every has_source ancestor can end up the drill root (a nearer
        # one may hold an empty source, sending the walk further up)
        want_src: set = set()
        for chain in chains.values():
            for a in chain:
                meta = stats.get(a) or self._sub_meta_cache.get(a)
                if meta is not None and meta["has_source"]:
                    want_src.add(a)
        fetch = [a for a in want_src
                 if a not in self._source_rows_cache
                 and to_id(*a) not in self._drill_sources
                 and to_id(*a) not in self._consumed_sources]
        if not fetch:
            return
        for a in fetch:
            self._source_rows_cache[a] = []
        by_z: dict = {}
        for (z, x, y) in fetch:
            by_z.setdefault(z, []).append((x, y))
        for z, keys in sorted(by_z.items()):
            p1 = self._p("sources", f"z={z}")
            if not os.path.isdir(p1):
                continue
            sel = (self.spark.read.parquet(p1)
                   .where(F.col("x").isin([x for x, _ in keys]) &
                          F.col("y").isin([y for _, y in keys]) &
                          _pack_col().isin([_pack_xy(x, y)
                                            for x, y in keys]))
                   .select("x", "y", *FEATURE_COLUMNS))
            for r in sel.collect():
                d = r.asDict()
                key = (z, d.pop("x"), d.pop("y"))
                if key in self._source_rows_cache:
                    self._source_rows_cache[key].append(d)
        if sub is not None:
            ids = [to_id(*a) for a in fetch]
            zs = sorted({z for z, _, _ in fetch})
            pred = None
            for zv in zs:
                packed = [_pack_xy(x, y) for (z, x, y) in fetch if z == zv]
                p = (F.col("z") == zv) & _pack_col().isin(packed)
                pred = p if pred is None else (pred | p)
            for r in (sub.where((F.col("kind") == "source") &
                                F.col("z").isin(zs) & pred)
                      .select("z", "x", "y", *SOURCE_PACK_COLUMNS)
                      .collect()):
                key = (r["z"], r["x"], r["y"])
                if key in self._source_rows_cache:
                    self._source_rows_cache[key].extend(
                        unpack_source_pack(r))

    def get_tiles(self, coords) -> dict:
        """Batch getTile: resolve many (z, x, y) requests in one sweep.

        Same semantics as per-request get_tile (drill-downs included),
        but hits are served in TWO Spark jobs for the whole batch: one
        pruned read of the tilefeat store covering every requested
        tiles-store tile (all zooms OR-ed into a single predicate) and
        one keyed read of the subtree store for the rest.  Only genuine
        misses fall back to the drill path, and each retained source is
        drilled at most once for the whole batch."""
        norm: dict = {}
        for c in coords:
            c = tuple(c)
            z, x, y = (int(float(v)) for v in c)
            if z < 0 or z > 24:
                norm[c] = None
                continue
            z2 = 1 << z
            norm[c] = (z, (x + z2) & (z2 - 1), y)

        want = {k for k in norm.values() if k is not None}
        feats: dict = {}
        for key in list(want):
            t = self._drill_tiles.get(to_id(*key))
            if t is not None:
                feats[key] = t["features"]
                want.discard(key)

        if want and self._read_lineage():
            dist = [k for k in want if k in self._stats()]
            tf = self._tilefeat_df() if dist else None
            if tf is not None:
                zs = sorted({z for z, _, _ in dist})
                pred = None
                for zv in zs:
                    packed = [_pack_xy(x, y) for (z, x, y) in dist if z == zv]
                    p = (F.col("z") == zv) & _pack_col().isin(packed)
                    pred = p if pred is None else (pred | p)
                grouped: dict = {k: [] for k in dist}
                for r in (tf.where(F.col("z").isin(zs) & pred)
                          .select("z", "x", "y", *self._TILEFEAT_COLS)
                          .collect()):
                    grouped[(r["z"], r["x"], r["y"])].append(r)
                for k in dist:
                    feats[k] = self._assemble_features(grouped[k])
                    want.discard(k)
            sub = self._subtree_df() if want else None
            if sub is not None:
                ids = [to_id(*k) for k in want]
                for r in (sub.where((F.col("kind") == "tile") &
                                    F.col("tile_id").isin(ids))
                          .select("z", "x", "y", *self._PACK_COLS)
                          .collect()):
                    k = (r["z"], r["x"], r["y"])
                    feats[k] = self._unpack_tile_features(r)
                    want.discard(k)
            if sub is not None:
                for k in want:
                    # the keyed fetch just proved these absent — cache
                    # that so their per-tile lookups go jobless
                    self._sub_meta_cache.setdefault(k, None)
            if want:
                # genuine misses: batch the meta/source lookups their
                # drills will need (2 jobs for the whole batch), then
                # the get_tile fallbacks below run on warm caches + the
                # in-process kernel
                self._prefetch_drill(sorted(want))

        out = {}
        for c, key in norm.items():
            if key is None:
                out[c] = None
            elif key in feats:
                out[c] = {"features": feats[key],
                          "z": key[0], "x": key[1], "y": key[2]}
            else:
                out[c] = self.get_tile(*key)
        return out

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
                       for r in self.tiles().select("z", "x", "y").collect()}
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
