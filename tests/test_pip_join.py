"""The point-in-polygon join's refine kernel and its prepared polygon side.

``points_in_rings`` (one vectorized ray cast over a whole candidate
batch) must equal the scalar ``points_in_ring`` oracle exactly.  The
broadcast polygon side is kept per polygon input in a bounded driver
cache: it must never serve a stale answer, must skip every job before
the main one on a warm call, and must stay correct under eviction and
concurrent callers."""

import os
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geojson_vt_spark.functions import project_x_col, project_y_col
from geojson_vt_spark.operators import point_in_polygon_join, points_in_ring
from geojson_vt_spark.operators import spatial_join as sj


# ------------------------------------------------- kernel (Spark-free)

def _ulps(v):
    return (np.nextafter(v, -np.inf), v, np.nextafter(v, np.inf))


def test_ring_kernel_matches_points_in_ring():
    """One batch mixing ring lengths 3-300, unsorted sparse negative
    ids, self-intersecting / open / repeated-vertex / horizontal-edge
    rings, and points on vertices and edges and one ulp either side:
    the CSR kernel equals points_in_ring per candidate, bit for bit."""
    rng = np.random.default_rng(14)
    rings = []
    for n in (3, 4, 5, 7, 10, 31, 64, 150, 300):
        t = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.02, 0.05, n)
        rings.append((0.5 + r * np.cos(t), 0.5 + r * np.sin(t)))
    # self-intersecting star (every second vertex of a 9-gon) and bowtie
    t = np.arange(9) * 4 * np.pi / 9
    rings.append((0.5 + 0.04 * np.cos(t), 0.5 + 0.04 * np.sin(t)))
    rings.append((np.array([0.46, 0.54, 0.46, 0.54, 0.46]),
                  np.array([0.46, 0.54, 0.54, 0.46, 0.46])))
    # open ring with a horizontal top edge and a repeated vertex
    rings.append((np.array([0.47, 0.53, 0.53, 0.53, 0.47]),
                  np.array([0.47, 0.47, 0.52, 0.52, 0.52])))
    # closed ring of horizontal and vertical edges (a concave L)
    rings.append((np.array([0.45, 0.55, 0.55, 0.5, 0.5, 0.45, 0.45]),
                  np.array([0.45, 0.45, 0.5, 0.5, 0.55, 0.55, 0.45])))
    ids = np.array([-7, 1_000_003, 42, -1_000_000_000_000, 5, 0, 99, -1,
                    123_456_789_012, 17, -3, 8, 2], dtype=np.int64)
    assert len(ids) == len(rings)

    # points: on every vertex and every edge midpoint of every ring, one
    # ulp either side in x and in y, plus a uniform cloud
    px, py = [rng.uniform(0.44, 0.56, 4000)], [rng.uniform(0.44, 0.56, 4000)]
    for xs, ys in rings:
        mx, my = (xs + np.roll(xs, 1)) / 2, (ys + np.roll(ys, 1)) / 2
        for vx, vy in ((xs, ys), (mx, my)):
            for dx in _ulps(vx):
                for dy in _ulps(vy):
                    px.append(dx)
                    py.append(dy)
    px, py = np.concatenate(px), np.concatenate(py)
    # every point is a candidate of every ring, plus candidates of an id
    # the table lacks; shuffled so no ring's candidates are contiguous
    ring_ids = np.append(ids, 31337)
    pol = np.repeat(ring_ids, len(px))
    cx, cy = np.tile(px, len(ring_ids)), np.tile(py, len(ring_ids))
    perm = rng.permutation(len(pol))
    pol, cx, cy = pol[perm], cx[perm], cy[perm]

    table = sj._RingTable.from_arrow(
        ids, pa.array([xs.tolist() for xs, _ in rings]),
        pa.array([ys.tolist() for _, ys in rings]))
    got = table.contains(pol, cx, cy)

    want = np.zeros(len(pol), dtype=bool)
    for pid, (xs, ys) in zip(ids, rings):
        sel = pol == pid
        want[sel] = points_in_ring(cx[sel], cy[sel], xs, ys)
    assert np.array_equal(got, want)
    assert 0.05 < want.mean() < 0.5
    assert not got[pol == 31337].any()


def test_ring_table_drops_null_empty_and_mismatched_rings():
    ids = np.array([3, 1, 2, 4, 1], dtype=np.int64)
    sx, sy = [0.0, 1.0, 1.0, 0.0, 0.0], [0.0, 0.0, 1.0, 1.0, 0.0]
    table = sj._RingTable.from_arrow(
        ids, pa.array([None, sx, [], sx, [9.0]], pa.list_(pa.float64())),
        pa.array([sy, sy, [], sy[:4], [9.0]], pa.list_(pa.float64())))
    # id 1's first row wins; NULL (3), empty (2) and mismatched (4) go
    assert table.ids.tolist() == [1]
    pol = np.array([1, 2, 3, 4, 5], dtype=np.int64)
    half = np.full(5, 0.5)
    assert table.contains(pol, half, half).tolist() == [True] + [False] * 4


# ---------------------------------------------------- Spark helpers

def _points(spark):
    return spark.range(900).select(
        F.col("id").alias("point_id"),
        ((F.col("id") % 30) * 2.0 - 29.7).alias("lon"),
        (F.floor(F.col("id") / 30) * 2.0 - 29.9).alias("lat"))


def _rings(shift: float, n: int = 6):
    """n projected quads near the lattice, offset by ``shift`` degrees."""
    import math

    def px(lon):
        return lon / 360.0 + 0.5

    def py(lat):
        s = math.sin(math.radians(lat))
        return 0.5 - 0.25 * math.log((1 + s) / (1 - s)) / math.pi

    out = {}
    for i in range(n):
        lon0, lat0 = -28.0 + 9.0 * i + shift, -25.0 + 7.0 * i
        lon1, lat1 = lon0 + 8.0 + shift, lat0 + 11.0
        out[10 + 3 * i] = ([px(lon0), px(lon1), px(lon1), px(lon0)],
                           [py(lat0), py(lat0 + shift), py(lat1), py(lat1)])
    return out


def _write(path, rings, name="part-0.parquet"):
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "poly_id": np.array(list(rings), dtype=np.int64),
        "pxs": [xs for xs, _ in rings.values()],
        "pys": [ys for _, ys in rings.values()]}), os.path.join(path, name))


def _want(spark, points, rings):
    proj = points.select("point_id", project_x_col(F.col("lon")).alias("px"),
                         project_y_col(F.col("lat")).alias("py")).toPandas()
    px = proj["px"].to_numpy(dtype=np.float64)
    py = proj["py"].to_numpy(dtype=np.float64)
    want = []
    for pid, (xs, ys) in rings.items():
        if xs is None or ys is None or len(xs) != len(ys):
            continue
        inside = points_in_ring(px, py, np.asarray(xs, dtype=np.float64),
                                np.asarray(ys, dtype=np.float64))
        want += [(int(p), pid) for p in proj["point_id"].to_numpy()[inside]]
    return sorted(want)


def _pairs(df):
    return sorted(map(tuple, df.collect()))


def _jobs(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup("other", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# ---------------------------------------------------- NULL rings

def test_pip_join_null_empty_mismatched_rings_match_nothing(spark, tmp_path):
    """A NULL, empty or length-mismatched ring holds no point on every
    path: probing default, hinted, shuffle and file-backed (cached)."""
    points = _points(spark)
    good = _rings(0.0, n=3)
    sq_x, sq_y = good[10]
    bad = {50: (None, sq_y), 51: (sq_x, None), 52: ([], []),
           53: (sq_x + [sq_x[0]], sq_y)}
    rows = [(pid, xs, ys) for pid, (xs, ys) in {**good, **bad}.items()]
    schema = "poly_id long, pxs array<double>, pys array<double>"
    polys = spark.createDataFrame(rows, schema)
    path = str(tmp_path / "polys")
    polys.write.parquet(path)
    want = _want(spark, points, good)
    assert len(want) > 20

    assert _pairs(point_in_polygon_join(points, polys, res=5)) == want
    assert _pairs(point_in_polygon_join(points, polys, res=5,
                                        poly_count_hint=7)) == want
    assert _pairs(point_in_polygon_join(points, polys, res=5, salt_n=3,
                                        broadcast_polys=False)) == want
    assert _pairs(point_in_polygon_join(points, spark.read.parquet(path),
                                        res=5)) == want


def test_pip_join_null_poly_id_matches_nothing(spark, tmp_path):
    """A polygon row with a NULL poly_id holds no point, on the default
    (probing) path, the shuffle path and a file-backed input, even when
    its ring covers points."""
    points = _points(spark)
    good = _rings(0.0, n=3)
    sq_x, sq_y = good[10]
    rows = [(pid, xs, ys) for pid, (xs, ys) in good.items()]
    rows.append((None, sq_x, sq_y))
    polys = spark.createDataFrame(
        rows, "poly_id long, pxs array<double>, pys array<double>")
    path = str(tmp_path / "polys")
    polys.write.parquet(path)
    want = _want(spark, points, good)
    assert len(want) > 20

    assert _pairs(point_in_polygon_join(points, polys, res=5)) == want
    assert _pairs(point_in_polygon_join(points, polys, res=5,
                                        broadcast_polys=False)) == want
    assert _pairs(point_in_polygon_join(points, polys, res=5, salt_n=3,
                                        broadcast_polys=False)) == want
    assert _pairs(point_in_polygon_join(points, spark.read.parquet(path),
                                        res=5)) == want


# ---------------------------------------------------- prepared side

def test_pip_join_warm_call_runs_no_planning_job(spark, tmp_path):
    """The second call on the same polygon input plans with 0 jobs (no
    probe, no ring collect) and returns the first call's pairs."""
    sc = spark.sparkContext
    path = str(tmp_path / "polys")
    rings = _rings(0.0)
    _write(path, rings)
    points = _points(spark)
    polys = spark.read.parquet(path)
    cold, n_cold = _jobs(sc, "pip-cold-plan",
                         lambda: point_in_polygon_join(points, polys, res=5))
    assert n_cold == 1, f"cold plan ran {n_cold} jobs (probe=1)"
    first = _pairs(cold)
    warm, n = _jobs(sc, "pip-warm-plan",
                    lambda: point_in_polygon_join(points, polys, res=5))
    assert n == 0, f"warm plan ran {n} jobs"
    assert _pairs(warm) == first == _want(spark, points, rings)


def test_pip_join_sees_rewritten_polygons(spark, tmp_path):
    """Overwriting the polygon parquet (new file) and rewriting its one
    file in place between two calls both give the new answer."""
    points = _points(spark)
    path = str(tmp_path / "polys")
    a, b, c = _rings(0.0), _rings(1.5), _rings(3.0)
    _write(path, a)
    assert _pairs(point_in_polygon_join(points, spark.read.parquet(path),
                                        res=5)) == _want(spark, points, a)
    os.remove(os.path.join(path, "part-0.parquet"))
    _write(path, b, name="part-1.parquet")
    want_b = _want(spark, points, b)
    assert _pairs(point_in_polygon_join(points, spark.read.parquet(path),
                                        res=5)) == want_b
    _write(path, c, name="part-1.parquet")
    want_c = _want(spark, points, c)
    assert want_c != want_b
    assert _pairs(point_in_polygon_join(points, spark.read.parquet(path),
                                        res=5)) == want_c


def test_pip_join_in_memory_polygons_get_no_entry(spark):
    points = _points(spark)
    rings = _rings(0.0)
    polys = spark.createDataFrame(
        [(pid, xs, ys) for pid, (xs, ys) in rings.items()],
        "poly_id long, pxs array<double>, pys array<double>")
    assert sj._PREPARED.key(polys, 5) is None
    before = len(sj._PREPARED)
    assert _pairs(point_in_polygon_join(points, polys, res=5)) == \
        _want(spark, points, rings)
    assert len(sj._PREPARED) == before


def test_pip_join_eviction_keeps_returned_frames_runnable(spark, tmp_path,
                                                          monkeypatch):
    """More distinct inputs than the bound leave at most the bound in
    the cache, and a frame returned before its entry's eviction still
    collects the right pairs."""
    monkeypatch.setattr(sj._PREPARED, "max_entries", 2)
    points = _points(spark)
    frames, wants = [], []
    for i in range(4):
        path = str(tmp_path / f"polys{i}")
        rings = _rings(0.5 * i)
        _write(path, rings)
        frames.append(point_in_polygon_join(points, spark.read.parquet(path),
                                            res=5))
        wants.append(_want(spark, points, rings))
        assert len(sj._PREPARED) <= 2
    for got, want in zip(frames, wants):
        assert _pairs(got) == want


def test_pip_join_concurrent_callers(spark, tmp_path):
    """Four threads joining two inputs at once all get correct pairs."""
    import sys
    points = _points(spark)
    inputs = []
    for i in range(2):
        path = str(tmp_path / f"polys{i}")
        rings = _rings(1.0 * i)
        _write(path, rings)
        inputs.append((path, _want(spark, points, rings)))
    results, errors = {}, []

    def run(t):
        path, _ = inputs[t % 2]
        try:
            results[t] = _pairs(point_in_polygon_join(
                points, spark.read.parquet(path), res=5))
        except Exception as e:  # noqa: BLE001 - reported by the assert
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=run, args=(t,)) for t in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    for t in range(4):
        assert results[t] == inputs[t % 2][1]
