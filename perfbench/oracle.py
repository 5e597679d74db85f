"""Independent output checks, written without the program's own kernels.

- ``pip_digest``: point-in-polygon pairs by a winding-number test (the
  program refines with an even-odd ray cast), over points projected here.
- ``knn_check``: k nearest neighbours by brute force over every point.
- ``tile_digest``: order-independent digest of a tile set's
  (z, x, y, n_features) rows.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

# Pairs are summarised, not collected: count, id sums and a mixed term.
MIX_MOD = 2_147_483_647


def project(lon: np.ndarray, lat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Unit-square Web Mercator, clamped to [0, 1] in y."""
    px = lon / 360.0 + 0.5
    s = np.sin(lat * math.pi / 180.0)
    with np.errstate(divide="ignore"):
        py = 0.5 - 0.25 * np.log((1.0 + s) / (1.0 - s)) / math.pi
    return px, np.clip(py, 0.0, 1.0)


def _winding_inside(px, py, xs, ys) -> np.ndarray:
    """Non-zero winding number of each point w.r.t. the closed ring."""
    wn = np.zeros(px.shape[0], dtype=np.int64)
    for i in range(len(xs) - 1):
        x0, y0, x1, y1 = xs[i], ys[i], xs[i + 1], ys[i + 1]
        left = (x1 - x0) * (py - y0) - (px - x0) * (y1 - y0)
        up = (y0 <= py) & (py < y1) & (left > 0)
        down = (y1 <= py) & (py < y0) & (left < 0)
        wn += up.astype(np.int64) - down.astype(np.int64)
    return wn != 0


def pip_digest(point_ids, px, py, poly_ids, rings) -> dict:
    """Digest of every (point, polygon) pair with the point inside.
    ``rings``: per polygon (xs, ys) closed ring in projected space."""
    order = np.argsort(px, kind="stable")
    spx, spy, sid = px[order], py[order], point_ids[order]
    count = sum_pt = sum_poly = mix = 0
    for pid, (xs, ys) in zip(poly_ids, rings):
        lo = np.searchsorted(spx, xs.min(), side="left")
        hi = np.searchsorted(spx, xs.max(), side="right")
        cy = spy[lo:hi]
        band = (cy >= ys.min()) & (cy <= ys.max())
        cand = np.nonzero(band)[0] + lo
        inside = cand[_winding_inside(spx[cand], spy[cand], xs, ys)]
        ids = sid[inside]
        count += len(ids)
        sum_pt += int(ids.sum())
        sum_poly += int(pid) * len(ids)
        mix += int(((ids * 1_000_003 + int(pid)) % MIX_MOD).sum())
    return {"pairs": count, "sum_point": sum_pt, "sum_poly": sum_poly,
            "sum_mix": mix}


def knn_check(result_rows, k: int, qids, qx, qy, pids, px, py,
              tol: float = 1e-12) -> list[str]:
    """Compare the program's kNN rows (query_id, point_id, dist, rank)
    for the given queries against brute force; returns problems."""
    by_q: dict[int, list] = {}
    for q, p, d, r in result_rows:
        by_q.setdefault(int(q), []).append((int(r), int(p), float(d)))
    pos = {int(p): i for i, p in enumerate(pids)}
    problems = []
    for q, x, y in zip(qids, qx, qy):
        got = sorted(by_q.get(int(q), []))
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            problems.append(f"query {q}: ranks {[r for r, _, _ in got]}")
            continue
        d_all = np.sqrt((px - x) ** 2 + (py - y) ** 2)
        want = np.sort(np.partition(d_all, k - 1)[:k])
        dists = np.array([d for _, _, d in got])
        if np.any(np.abs(dists - want) > tol):
            problems.append(f"query {q}: dists {dists} != {want}")
            continue
        for _, p, d in got:
            if abs(d_all[pos[p]] - d) > tol:
                problems.append(f"query {q}: point {p} dist {d} != {d_all[pos[p]]}")
                break
    return problems


def tile_digest(rows) -> str:
    """rows: iterable of (z, x, y, n_features)."""
    h = hashlib.sha256()
    for z, x, y, n in sorted((int(a), int(b), int(c), int(d)) for a, b, c, d in rows):
        h.update(f"{z}/{x}/{y}:{n};".encode())
    return h.hexdigest()[:16]
