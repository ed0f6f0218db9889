"""Broadcast point-in-polygon join (raster↔vector stage, SURVEY §2.B joins).

Containment is a theta predicate — no equi-key exists — so Catalyst's only
native plan would be a broadcast-nested-loop join with a per-row UDF (slow
path). Instead the polygon layer (small dim side: thousands, not billions)
is collected once as Arrow, packed into flat numpy arrays on the driver,
broadcast once via ``sc.broadcast``, and probed inside a ``mapInArrow``
stage. This module owns the layer and its containment test; ``pip_join``
and the fused tile kernel (``tile_kernel.py``) both use it unchanged:

* validity: a polygon row is packed only when its id, outer ring and bbox
  are non-NULL and its bbox and every vertex (outer ring and holes) are
  finite; a NULL ``holes`` list means no holes, a NULL hole ring or vertex
  drops the row. A dropped row contains nothing, so no NULL or NaN input
  becomes a valid-looking polygon id;
* candidates: a uniform grid over the layer extent in CSR form (cell →
  polygons whose bbox overlaps it, the vectorized equivalent of an STRtree
  level), then the bbox test on each (point, polygon) candidate;
* exact test: even-odd ray casting over ALL rings (outer + holes,
  nonconvex supported; boundary-inclusive), one vectorized pass over the
  (candidate pair, edge) rows in slices of a fixed row budget, so its
  memory does not grow with a polygon's vertex count.

The probe is shuffle-free: tiles stream through map tasks; only the
(tiny) polygon pack moves, once per executor. At 1000 executors × 100 TB of
tiles this is the only join shape that avoids shuffling the big side.

Output: inner-join rows (point row + polygon_id).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


MAX_BROADCAST_POLYGONS = 2_000_000  # pack ≈ vertices × 16 B + grid; guard
# (pair, edge) rows per slice of the exact pass: ~20 arrays of this length
# are live at once, so a slice stays near 10 MB (cache-sized: 2^15-2^16
# timed fastest, 2^18 twice as slow) whatever the polygon size
_PAIR_EDGE_BUDGET = 1 << 16


def pack_polygons(polygons: DataFrame, max_polygons: int = MAX_BROADCAST_POLYGONS) -> dict:
    """Collect + pack the polygon layer into flat arrays (driver-side).

    Pack layout: the ids as one Arrow string array (``polygon_id`` cast to
    string), ring vertex arrays (concatenated) + offsets, bbox arrays, and
    the grid index in CSR form. Suitable for a Spark broadcast.

    The polygon layer is the SMALL side by contract (a broadcast PIP join);
    ``max_polygons`` guards the driver-side collect: ``limit(max+1)`` IS the
    collect, so the driver materializes at most max+1 rows and the in-bounds
    case costs one job — same convention as the other guarded collects
    (top_cosine_pairs, PQ query batches) — and an accidentally-huge layer
    errors loudly instead of OOMing the driver. The alternative at that
    scale is partitioning the polygon layer and running pip_join per
    sub-layer (union the outputs: PIP is disjoint-safe).
    """
    cols = [F.col("polygon_id").cast("string").alias("polygon_id"), "ring", "bbox"]
    if "holes" in polygons.columns:
        cols.append("holes")
    layer = polygons.select(*cols).limit(max_polygons + 1).toArrow()
    if layer.num_rows > max_polygons:
        raise ValueError(
            f"polygon layer exceeds max_polygons={max_polygons}: pip_join "
            f"broadcasts the packed layer to every task (small-side "
            f"contract). Split the layer and union pip_join outputs, or "
            f"raise max_polygons= explicitly."
        )
    return _pack_layer(layer)


def _ragged(starts: np.ndarray, counts: np.ndarray) -> np.ndarray:
    """The ranges [starts[i], starts[i] + counts[i]) concatenated into one
    index array (repeat + cumsum, no per-range Python)."""
    ends = np.cumsum(counts)
    return np.arange(ends[-1] if len(ends) else 0) - np.repeat(ends - counts, counts) + np.repeat(starts, counts)


def _fields(structs: pa.StructArray) -> dict:
    """A struct array's fields by name as float64, NaN where the field or
    its struct is NULL."""
    return {
        f.name: v.to_numpy(zero_copy_only=False).astype(np.float64)
        for f, v in zip(structs.type, structs.flatten())
    }


def _lengths(lists: pa.Array) -> np.ndarray:
    """Per-entry list lengths, 0 for a NULL list (``flatten`` skips it)."""
    return pc.fill_null(pc.list_value_length(lists), 0).to_numpy().astype(np.int64)


def _pack_layer(layer: pa.Table) -> dict:
    """Pack an Arrow polygon layer (``pack_polygons``' select) under the
    validity rule of the module docstring."""
    ids, ring, bbox = (layer.column(c).combine_chunks() for c in ("polygon_id", "ring", "bbox"))
    n = len(ids)
    b = _fields(bbox)
    box = np.stack([b[k] for k in ("xmin", "ymin", "xmax", "ymax")])
    ok = np.isfinite(box).all(axis=0) & ids.is_valid().to_numpy(zero_copy_only=False)
    # rings in one list: every outer ring (row order), then every hole ring;
    # a stable sort by row puts each polygon's outer ring before its holes
    n_holes = np.zeros(n, np.int64)
    rings = [ring]
    if "holes" in layer.column_names:
        holes = layer.column("holes").combine_chunks()
        n_holes = _lengths(holes)
        rings.append(holes.flatten())
    row = np.concatenate([np.arange(n), np.repeat(np.arange(n), n_holes)])
    ring_ok = np.concatenate([r.is_valid().to_numpy(zero_copy_only=False) for r in rings])
    count = np.concatenate([_lengths(r) for r in rings])
    start = np.cumsum(count) - count
    xy = [_fields(r.flatten()) for r in rings]  # vertex coordinates per ring list
    vx = np.concatenate([v["x"] for v in xy])
    vy = np.concatenate([v["y"] for v in xy])
    ok &= np.bincount(row[~ring_ok], minlength=n) == 0
    order = np.argsort(row, kind="stable")
    row, start, count = row[order], start[order], count[order]
    vert = _ragged(start, count)
    vert_row = np.repeat(row, count)
    ok &= np.bincount(vert_row[~(np.isfinite(vx[vert]) & np.isfinite(vy[vert]))], minlength=n) == 0
    # keep the valid rows' vertices; an edge runs between consecutive
    # vertices WITHIN a ring, so the slot after a ring's last one is masked
    keep = ok[vert_row]
    vert, count = vert[keep], count[ok[row]]
    eok = np.ones(len(vert), bool)
    eok[(np.cumsum(count) - 1)[count > 0]] = False
    per_poly = np.bincount(vert_row[keep], minlength=n)[ok]
    pack = {
        "ids": ids.filter(pa.array(ok)),
        "x": vx[vert],
        "y": vy[vert],
        "eok": eok,
        "offs": np.concatenate([[0], np.cumsum(per_poly)]).astype(np.int64),
        **dict(zip(("bxmin", "bymin", "bxmax", "bymax"), box[:, ok])),
    }
    pack.update(_build_grid(pack))
    return pack


def _build_grid(pack: dict) -> dict:
    """Uniform grid over the layer extent; each polygon registered in every
    grid cell its bbox overlaps. CSR: cell_start[c]..cell_start[c+1] →
    grid_polys entries, ascending polygon index within a cell. An empty
    layer's extent is (+inf, -inf), which no point falls inside."""
    n_polys = len(pack["bxmin"])
    gx = gy = max(8, int(np.sqrt(n_polys)))
    x0 = np.min(pack["bxmin"], initial=np.inf)
    y0 = np.min(pack["bymin"], initial=np.inf)
    x1 = np.max(pack["bxmax"], initial=-np.inf)
    y1 = np.max(pack["bymax"], initial=-np.inf)
    sx = (x1 - x0) / gx or 1.0
    sy = (y1 - y0) / gy or 1.0
    cx0 = np.clip(((pack["bxmin"] - x0) / sx).astype(np.int64), 0, gx - 1)
    cx1 = np.clip(((pack["bxmax"] - x0) / sx).astype(np.int64), 0, gx - 1)
    cy0 = np.clip(((pack["bymin"] - y0) / sy).astype(np.int64), 0, gy - 1)
    cy1 = np.clip(((pack["bymax"] - y0) / sy).astype(np.int64), 0, gy - 1)
    # polygon p covers the nx × ny cell block at (cx0, cy0): local slot j
    # of its block is cell (cx0 + j // ny, cy0 + j % ny)
    nx = np.maximum(cx1 - cx0 + 1, 0)
    ny = np.maximum(cy1 - cy0 + 1, 0)
    polys = np.repeat(np.arange(n_polys), nx * ny)
    j = _ragged(np.zeros(n_polys, np.int64), nx * ny)
    cells = (cx0[polys] + j // ny[polys]) * gy + cy0[polys] + j % ny[polys]
    order = np.argsort(cells, kind="stable")
    return {
        # x1/y1 ride along: the boundary remap must compare against the
        # TRUE extent, not x0 + gx*sx reconstructed with float error (r4
        # review, verified: gx=49 over [0,1] reconstructs 0.9999999999999999
        # and a point at exactly 1.0 was rejected)
        "grid": (gx, gy, x0, y0, sx, sy, x1, y1),
        "grid_polys": polys[order],
        "grid_start": np.concatenate([[0], np.cumsum(np.bincount(cells, minlength=gx * gy))]).astype(np.int64),
    }


def _bbox_pairs_grid(px, py, pack):
    """Grid-index candidate generation: O(points × avg bucket) instead of
    O(points × polys), ascending point then polygon index."""
    gx, gy, x0, y0, sx, sy, x1, y1 = pack["grid"]
    # only points inside the layer's TRUE extent (r4 float-edge fix) get a
    # cell: NaN and ±inf fail these comparisons, so the int64 cast never
    # sees them (the fused kernel passes error rows' centroids in as NaN)
    pt = np.nonzero((px >= x0) & (px <= x1) & (py >= y0) & (py <= y1))[0]
    # points exactly on the layer's max extent belong to the last cell (the
    # PIP contract is boundary-inclusive; strict cx < gx would drop them —
    # ADVICE r1)
    cx = np.minimum(((px[pt] - x0) / sx).astype(np.int64), gx - 1)
    cy = np.minimum(((py[pt] - y0) / sy).astype(np.int64), gy - 1)
    cell = cx * gy + cy
    start = pack["grid_start"][cell]
    cnt = pack["grid_start"][cell + 1] - start
    pt_idx = np.repeat(pt, cnt)
    pg_idx = pack["grid_polys"][_ragged(start, cnt)]
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
    pt_idx, pg_idx = _bbox_pairs_grid(px, py, pack)
    first = pack["offs"][pg_idx]
    n_edges = np.maximum(pack["offs"][pg_idx + 1] - first - 1, 0)
    # slice k holds the pairs whose first edge row falls in
    # [k, k + 1) × budget, so a slice is at most budget + one polygon's edges
    row0 = np.cumsum(n_edges) - n_edges
    cuts = np.searchsorted(row0, np.arange(0, n_edges.sum(), _PAIR_EDGE_BUDGET))
    keep = np.zeros(len(pt_idx), bool)
    for lo, hi in zip(cuts, [*cuts[1:], len(pt_idx)]):
        keep[lo:hi] = _even_odd(px[pt_idx[lo:hi]], py[pt_idx[lo:hi]], first[lo:hi], n_edges[lo:hi], pack)
    return pt_idx[keep], pg_idx[keep]


def _even_odd(cx, cy, first, n_edges, pack):
    """Boundary-inclusive even-odd verdict of each (point, polygon) pair,
    over one row per (pair, edge). An edge runs from vertex e to e + 1; a
    crossing of a hole edge toggles containment, which is exactly the
    even-odd hole semantics, and a point on an outer or hole edge/vertex
    counts as contained."""
    m = len(cx)
    pair = np.repeat(np.arange(m), n_edges)
    e = _ragged(first, n_edges)
    ok = pack["eok"][e]  # mask inter-ring phantom edges
    x1, y1 = pack["x"][e], pack["y"][e]
    x2, y2 = pack["x"][e + 1], pack["y"][e + 1]
    pxs, pys = cx[pair], cy[pair]
    # crossing test: edge straddles the horizontal ray, intersection
    # strictly right of the point
    straddle = ((y1 > pys) != (y2 > pys)) & ok
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (pys - y1) * (x2 - x1) / (y2 - y1)
    inside = np.bincount(pair[straddle & (pxs < xint)], minlength=m) % 2 == 1
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
    on_edge = (dist2 < 1e-18 * np.maximum(seg_len2, 1.0)) & inseg & ok
    return inside | (np.bincount(pair[on_edge], minlength=m) > 0)


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
            cols.append(pk["ids"].take(pa.array(pg_idx)))
            yield pa.RecordBatch.from_arrays(
                cols, names=[*batch.schema.names, "polygon_id"]
            )

    return points.mapInArrow(probe, out_schema)
