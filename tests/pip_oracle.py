"""Row-loop polygon pack and per-polygon exact PIP: the reference that
``cog3pio_spark/operators/pip_join.py`` is checked against in
tests/test_pip_oracle.py.

These are the package's former pack, candidate and containment code with
their loops unchanged: ``pack_rows`` is the row/vertex loop of the old
``pack_polygons`` (it takes the collected rows, with ``ids`` as a numpy
array), ``build_grid`` the per-polygon grid registration, and
``pip_candidates`` the dense (points × polygons) bbox mask followed by the
exact even-odd test grouped by polygon. The dense mask and the group loop
are O(points × polygons) and O(points × vertices) in memory, so they live
only in the tests, on layers whose rows are all valid.
"""

from __future__ import annotations

import numpy as np


def pack_rows(rows: list, has_holes: bool) -> dict:
    ids, xs, ys, offs, eok = [], [], [], [0], []
    bxmin, bymin, bxmax, bymax = [], [], [], []
    for r in rows:
        ids.append(r["polygon_id"])
        rings = [r["ring"]]
        if has_holes and r["holes"]:
            rings.extend(r["holes"])
        for ring in rings:
            xs.extend(p["x"] for p in ring)
            ys.extend(p["y"] for p in ring)
            # edges run between consecutive vertices WITHIN a ring; the slot
            # connecting one ring's last vertex to the next ring's first is
            # masked out (holes support: even-odd over all real ring edges)
            eok.extend([True] * (len(ring) - 1) + [False])
        offs.append(len(xs))
        bxmin.append(r["bbox"]["xmin"])
        bymin.append(r["bbox"]["ymin"])
        bxmax.append(r["bbox"]["xmax"])
        bymax.append(r["bbox"]["ymax"])
    return {
        "ids": np.array(ids),
        "x": np.array(xs, np.float64),
        "y": np.array(ys, np.float64),
        "eok": np.array(eok, bool),
        "offs": np.array(offs, np.int64),
        "bxmin": np.array(bxmin, np.float64),
        "bymin": np.array(bymin, np.float64),
        "bxmax": np.array(bxmax, np.float64),
        "bymax": np.array(bymax, np.float64),
    }


def build_grid(pack: dict, n_polys: int) -> dict:
    """Uniform grid over the layer extent; each polygon registered in every
    grid cell its bbox overlaps. CSR: cell_start[c]..cell_start[c+1] →
    grid_polys entries."""
    gx = gy = max(8, int(np.sqrt(n_polys)))
    x0 = pack["bxmin"].min()
    y0 = pack["bymin"].min()
    x1 = pack["bxmax"].max()
    y1 = pack["bymax"].max()
    sx = (x1 - x0) / gx or 1.0
    sy = (y1 - y0) / gy or 1.0
    cx0 = np.clip(((pack["bxmin"] - x0) / sx).astype(np.int64), 0, gx - 1)
    cx1 = np.clip(((pack["bxmax"] - x0) / sx).astype(np.int64), 0, gx - 1)
    cy0 = np.clip(((pack["bymin"] - y0) / sy).astype(np.int64), 0, gy - 1)
    cy1 = np.clip(((pack["bymax"] - y0) / sy).astype(np.int64), 0, gy - 1)
    cells, polys = [], []
    for p in range(n_polys):
        gxs = np.arange(cx0[p], cx1[p] + 1)
        gys = np.arange(cy0[p], cy1[p] + 1)
        cc = (gxs[:, None] * gy + gys[None, :]).ravel()
        cells.append(cc)
        polys.append(np.full(cc.shape, p, np.int64))
    cells = np.concatenate(cells)
    polys = np.concatenate(polys)
    order = np.argsort(cells, kind="stable")
    cells, polys = cells[order], polys[order]
    cell_start = np.zeros(gx * gy + 1, np.int64)
    np.add.at(cell_start, cells + 1, 1)
    cell_start = np.cumsum(cell_start)
    return {
        "grid": (gx, gy, x0, y0, sx, sy, x1, y1),
        "grid_polys": polys,
        "grid_start": cell_start,
    }


def bbox_pairs_dense(px, py, pack):
    m = (
        (px[:, None] >= pack["bxmin"][None, :])
        & (px[:, None] <= pack["bxmax"][None, :])
        & (py[:, None] >= pack["bymin"][None, :])
        & (py[:, None] <= pack["bymax"][None, :])
    )
    return np.nonzero(m)


def pip_candidates(px: np.ndarray, py: np.ndarray, pack: dict):
    """(point_idx, poly_idx) pairs passing the dense bbox mask and the exact
    even-odd test, in ascending point order."""
    pt_idx, pg_idx = bbox_pairs_dense(px, py, pack)
    if len(pt_idx) == 0:
        return pt_idx, pg_idx
    keep = np.zeros(len(pt_idx), dtype=bool)
    order = np.argsort(pg_idx, kind="stable")
    bounds = np.searchsorted(pg_idx[order], np.unique(pg_idx))
    bounds = np.append(bounds, len(order))
    for gi in range(len(bounds) - 1):
        sel = order[bounds[gi] : bounds[gi + 1]]
        pg = int(pg_idx[sel[0]])
        cx, cy = px[pt_idx[sel]], py[pt_idx[sel]]
        s, e = pack["offs"][pg], pack["offs"][pg + 1]
        vx, vy = pack["x"][s:e], pack["y"][s:e]
        ok = pack["eok"][s : e - 1][None, :]  # mask inter-ring phantom edges
        x1, y1 = vx[:-1][None, :], vy[:-1][None, :]
        x2, y2 = vx[1:][None, :], vy[1:][None, :]
        pxs, pys = cx[:, None], cy[:, None]
        # crossing test: edge straddles the horizontal ray, intersection
        # strictly right of the point
        straddle = ((y1 > pys) != (y2 > pys)) & ok
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = x1 + (pys - y1) * (x2 - x1) / (y2 - y1)
        crossings = (straddle & (pxs < xint)).sum(axis=1)
        inside = (crossings % 2) == 1
        # inclusive boundary: |cross product| ~ 0 and within edge bbox
        ex, ey = x2 - x1, y2 - y1
        crossp = ex * (pys - y1) - ey * (pxs - x1)
        seg_len2 = ex * ex + ey * ey + 1e-300
        dist2 = crossp * crossp / seg_len2
        inseg = (
            (pxs >= np.minimum(x1, x2) - 1e-9)
            & (pxs <= np.maximum(x1, x2) + 1e-9)
            & (pys >= np.minimum(y1, y2) - 1e-9)
            & (pys <= np.maximum(y1, y2) + 1e-9)
        )
        on_edge = ((dist2 < 1e-18 * np.maximum(seg_len2, 1.0)) & inseg & ok).any(axis=1)
        keep[sel] = inside | on_edge
    return pt_idx[keep], pg_idx[keep]
