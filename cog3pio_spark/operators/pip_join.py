"""Broadcast point-in-polygon join (raster↔vector stage, SURVEY §2.B joins).

Containment is a theta predicate — no equi-key exists — so Catalyst's only
native plan would be a broadcast-nested-loop join with a per-row UDF (slow
path). Instead the polygon layer (small dim side: thousands, not billions)
is packed into flat numpy arrays on the driver, broadcast once via
``sc.broadcast``, and probed inside a ``mapInArrow`` stage:

* bbox prefilter: one vectorized (points × polygons) interval test — the
  numpy analogue of an STRtree sweep; for ≤ ~10^4 polygons a dense bbox mask
  beats tree traversal in vectorized form (no per-node Python);
* exact test: even-odd ray casting over ALL rings (outer + holes, nonconvex
  supported; boundary-inclusive), vectorized per candidate polygon group —
  r5 doc fix: an earlier draft's "convex cross-product sign test" sentence
  outlived the even-odd rewrite (test_pip_join_nonconvex_star and
  test_pip_join_polygon_with_holes pin the actual contract).

The probe is shuffle-free: tiles stream through map tasks; only the
(tiny) polygon pack moves, once per executor. At 1000 executors × 100 TB of
tiles this is the only join shape that avoids shuffling the big side.

Output: inner-join rows (point row + polygon_id), plus ``contained`` flag
variant for golden tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T


GRID_THRESHOLD = 256  # dense bbox mask below, grid index above
MAX_BROADCAST_POLYGONS = 2_000_000  # pack ≈ vertices × 16 B + grid; guard


def pack_polygons(polygons: DataFrame, max_polygons: int = MAX_BROADCAST_POLYGONS) -> dict:
    """Collect + pack the polygon layer into flat numpy arrays (driver-side).

    Pack layout: ids list, ring vertex arrays (concatenated) + offsets, bbox
    arrays, and — for layers above GRID_THRESHOLD polygons — a uniform grid
    index in CSR form (cell → candidate polygon ids), the vectorized
    equivalent of an STRtree level. Suitable for a Spark broadcast.

    The polygon layer is the SMALL side by contract (a broadcast PIP join);
    ``max_polygons`` guards the driver-side collect with a bounded
    ``limit(max+1).count()`` probe — same convention as the other guarded
    collects (top_cosine_pairs, PQ query batches; r4 census) — so an
    accidentally-huge layer errors loudly instead of OOMing the driver.
    The alternative at that scale is partitioning the polygon layer and
    running pip_join per sub-layer (union the outputs: PIP is disjoint-safe).
    """
    has_holes = "holes" in polygons.columns
    cols = ["polygon_id", "ring", "bbox"] + (["holes"] if has_holes else [])
    # take(max+1) IS the guarded collect: the driver materializes at most
    # max+1 rows (never the full oversized layer), and the in-bounds case
    # costs exactly the one job the unguarded collect() cost — no separate
    # probe job in the flagship's timed path
    rows = polygons.select(*cols).take(max_polygons + 1)
    if len(rows) > max_polygons:
        raise ValueError(
            f"polygon layer exceeds max_polygons={max_polygons}: pip_join "
            f"broadcasts the packed layer to every task (small-side "
            f"contract). Split the layer and union pip_join outputs, or "
            f"raise max_polygons= explicitly."
        )
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
    pack = {
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
    n = len(ids)
    if n > GRID_THRESHOLD:
        pack.update(_build_grid(pack, n))
    return pack


def _build_grid(pack: dict, n_polys: int) -> dict:
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
        # x1/y1 ride along: the boundary remap must compare against the
        # TRUE extent, not x0 + gx*sx reconstructed with float error (r4
        # review, verified: gx=49 over [0,1] reconstructs 0.9999999999999999
        # and a point at exactly 1.0 was rejected)
        "grid": (gx, gy, x0, y0, sx, sy, x1, y1),
        "grid_polys": polys,
        "grid_start": cell_start,
    }


def _bbox_pairs_dense(px, py, pack):
    m = (
        (px[:, None] >= pack["bxmin"][None, :])
        & (px[:, None] <= pack["bxmax"][None, :])
        & (py[:, None] >= pack["bymin"][None, :])
        & (py[:, None] <= pack["bymax"][None, :])
    )
    return np.nonzero(m)


def _bbox_pairs_grid(px, py, pack):
    """Grid-index candidate generation: O(points × avg bucket) instead of
    O(points × polys). Ragged CSR gather fully vectorized (repeat + cumsum)."""
    gx, gy, x0, y0, sx, sy, x1, y1 = pack["grid"]
    cx = ((px - x0) / sx).astype(np.int64)
    cy = ((py - y0) / sy).astype(np.int64)
    # points exactly on the layer's max extent belong to the last cell (the
    # PIP contract is boundary-inclusive; strict cx < gx would drop them and
    # diverge from the dense path — ADVICE r1). Out-of-extent stays
    # rejected. Compare against the TRUE extent (r4 float-edge fix).
    cx = np.where((px <= x1) & (cx >= gx), gx - 1, cx)
    cy = np.where((py <= y1) & (cy >= gy), gy - 1, cy)
    # both axes finite (r5 review: only px was guarded — NaN py reached the
    # int64 cast whose result is undefined, surviving only via accidental
    # NaN-comparison fallthrough + a RuntimeWarning flood per batch)
    inside = (
        (cx >= 0) & (cx < gx) & (cy >= 0) & (cy < gy)
        & np.isfinite(px) & np.isfinite(py)
    )
    pt = np.nonzero(inside)[0]
    cell = cx[pt] * gy + cy[pt]
    start = pack["grid_start"][cell]
    cnt = pack["grid_start"][cell + 1] - start
    if cnt.sum() == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    pt_idx = np.repeat(pt, cnt)
    # expand ragged ranges [start, start+cnt): cumsum offset trick
    flat = np.arange(cnt.sum()) - np.repeat(np.cumsum(cnt) - cnt, cnt) + np.repeat(start, cnt)
    pg_idx = pack["grid_polys"][flat]
    keep = (
        (px[pt_idx] >= pack["bxmin"][pg_idx])
        & (px[pt_idx] <= pack["bxmax"][pg_idx])
        & (py[pt_idx] >= pack["bymin"][pg_idx])
        & (py[pt_idx] <= pack["bymax"][pg_idx])
    )
    return pt_idx[keep], pg_idx[keep]


def _pip_candidates(px: np.ndarray, py: np.ndarray, pack: dict):
    """Return (point_idx, poly_idx) pairs passing bbox + exact even-odd PIP,
    in ascending point order (the fused tile kernel's row assembly relies
    on it)."""
    if "grid" in pack:
        pt_idx, pg_idx = _bbox_pairs_grid(px, py, pack)
    else:
        pt_idx, pg_idx = _bbox_pairs_dense(px, py, pack)
    if len(pt_idx) == 0:
        return pt_idx, pg_idx
    keep = np.zeros(len(pt_idx), dtype=bool)
    # exact test grouped by polygon (each group fully vectorized over that
    # polygon's candidate points). Even-odd ray casting over ALL rings of the
    # polygon (outer + holes — a crossing of a hole edge toggles containment,
    # which is exactly the even-odd hole semantics); points exactly on an
    # outer or hole edge/vertex count as contained (boundary-inclusive).
    # Groups come from ONE argsort + contiguous slices (r5 review: the old
    # per-polygon boolean mask scan was O(unique_polys × pairs) — 2.5e9
    # comparisons for 5k polys × 500k pairs — same CSR pattern as
    # _bbox_pairs_grid).
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


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    x_col: str = "centroid_x",
    y_col: str = "centroid_y",
) -> DataFrame:
    """Inner join: one output row per (point, containing polygon).

    Points on a polygon edge count as contained (cross == 0 allowed) —
    pinned by the boundary-case fixtures.
    """
    spark = points.sparkSession
    pack = pack_polygons(polygons)
    bc = spark.sparkContext.broadcast(pack)

    in_schema = points.schema
    out_schema = T.StructType(in_schema.fields + [T.StructField("polygon_id", T.StringType(), False)])
    xi = in_schema.fieldNames().index(x_col)
    yi = in_schema.fieldNames().index(y_col)

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pk = bc.value
        for batch in batches:
            px = batch.column(xi).to_numpy(zero_copy_only=False).astype(np.float64)
            py = batch.column(yi).to_numpy(zero_copy_only=False).astype(np.float64)
            pt_idx, pg_idx = _pip_candidates(px, py, pk)
            if len(pt_idx) == 0:
                continue
            take = pa.array(pt_idx, type=pa.int64())
            cols = [batch.column(i).take(take) for i in range(batch.num_columns)]
            cols.append(pa.array(pk["ids"][pg_idx].tolist(), type=pa.string()))
            yield pa.RecordBatch.from_arrays(
                cols, names=[*batch.schema.names, "polygon_id"]
            )

    return points.mapInArrow(probe, out_schema)
