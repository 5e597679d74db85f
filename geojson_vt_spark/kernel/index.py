"""Single-process tile index driver over the numpy kernel.

Reproduces the reference driver semantics
(/root/reference/src/index.js): BFS split stack, tile memoization,
first-pass stop rules (indexMaxZoom / indexMaxPoints), source retention
for lazy drill-down, ancestor pruning, and getTile x-wrap.

This class is the kernel-level oracle used by the test-suite; the
distributed engine (``geojson_vt_spark.engine``) re-expresses the same
split as a quadtree cut of Spark stages and is cross-checked against it.
"""

from __future__ import annotations

from ..options import TileOptions
from .clip import clip_features
from .convert import convert
from .tile import create_tile
from .transform import transform_tile
from .wrap import wrap


def to_id(z: int, x: int, y: int) -> int:
    """Pack z/x/y into a single int64 key
    (/root/reference/src/index.js:202-204)."""
    return (((1 << z) * y + x) * 32) + z


class LocalTileIndex:
    def __init__(self, data, options: TileOptions | None = None):
        self.options = options or TileOptions()
        features = convert(data, self.options)
        self.tiles: dict[int, object] = {}
        self.tile_coords: list[tuple[int, int, int]] = []
        self.total = 0
        self.stats: dict[str, int] = {}

        features = wrap(features, self.options)
        if features:
            self.split_tile(features, 0, 0, 0)

    def split_tile(self, features, z, x, y, cz=None, cx=None, cy=None):
        stack = [features, z, x, y]
        options = self.options

        while stack:
            y = stack.pop()
            x = stack.pop()
            z = stack.pop()
            features = stack.pop()

            z2 = 1 << z
            tid = to_id(z, x, y)
            tile = self.tiles.get(tid)

            if tile is None:
                tile = create_tile(features, z, x, y, options)
                self.tiles[tid] = tile
                self.tile_coords.append((z, x, y))
                key = f"z{z}"
                self.stats[key] = self.stats.get(key, 0) + 1
                self.total += 1

            # retain source so later drill-down can resume from here
            tile.source = features

            if cz is None:
                # first pass: stop when deep enough or simple enough
                if z == options.index_max_zoom or tile.num_points <= options.index_max_points:
                    continue
            elif z == options.max_zoom or z == cz:
                continue
            else:
                # drill-down: skip subtrees that aren't ancestors of target
                zoom_steps = cz - z
                if x != cx >> zoom_steps or y != cy >> zoom_steps:
                    continue

            tile.source = None

            if len(features) == 0:
                continue

            k1 = 0.5 * options.buffer / options.extent
            k2 = 0.5 - k1
            k3 = 0.5 + k1
            k4 = 1 + k1
            lm = options.line_metrics

            tl = bl = tr = br = None
            left = clip_features(features, z2, x - k1, x + k3, 0,
                                 tile.minx, tile.maxx, lm)
            right = clip_features(features, z2, x + k2, x + k4, 0,
                                  tile.minx, tile.maxx, lm)

            if left:
                tl = clip_features(left, z2, y - k1, y + k3, 1,
                                   tile.miny, tile.maxy, lm)
                bl = clip_features(left, z2, y + k2, y + k4, 1,
                                   tile.miny, tile.maxy, lm)
            if right:
                tr = clip_features(right, z2, y - k1, y + k3, 1,
                                   tile.miny, tile.maxy, lm)
                br = clip_features(right, z2, y + k2, y + k4, 1,
                                   tile.miny, tile.maxy, lm)

            stack.extend([tl or [], z + 1, x * 2, y * 2])
            stack.extend([bl or [], z + 1, x * 2, y * 2 + 1])
            stack.extend([tr or [], z + 1, x * 2 + 1, y * 2])
            stack.extend([br or [], z + 1, x * 2 + 1, y * 2 + 1])

    def get_tile(self, z, x, y):
        """Tile lookup with lazy drill-down
        (/root/reference/src/index.js:158-199).  Returns a JSON-ready
        dict with 'features', or None."""
        z = int(float(z))
        x = int(float(x))
        y = int(float(y))

        options = self.options
        if z < 0 or z > 24:
            return None

        z2 = 1 << z
        x = (x + z2) & (z2 - 1)  # wrap tile x coordinate

        tid = to_id(z, x, y)
        if tid in self.tiles:
            return transform_tile(self.tiles[tid], options.extent)

        z0, x0, y0 = z, x, y
        parent = None
        while parent is None and z0 > 0:
            z0 -= 1
            x0 >>= 1
            y0 >>= 1
            parent = self.tiles.get(to_id(z0, x0, y0))

        if parent is None or parent.source is None:
            return None

        self.split_tile(parent.source, z0, x0, y0, z, x, y)

        if tid in self.tiles:
            return transform_tile(self.tiles[tid], options.extent)
        return None
