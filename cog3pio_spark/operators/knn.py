"""Spatial kNN over (id, lat, lng) rows, three operators (SURVEY §2.B).

* knn_brute — exact, by broadcast cross product: the reference (q20's
  DuckDB oracle) and knn_join's brute tier.
* knn_join — ring kNN on the list-probe core that vector top-k shares
  (operators/probe.py): a point's list is its h3x cell, a query probes the
  cells of its k-ring, the exact scorer is haversine. The query batch is
  collected, one histogram job counts the points per probed cell, and each
  query's tier — base ring, 3× ring or brute force — is picked on the
  driver from those counts.
* knn_sort_merge — curve-order sort-merge on the S2 Hilbert curve: the
  path for query sets too large to collect; approximate (recall tuned by
  ``scan_width``). Its per-bucket kernel scores each query's curve frame
  in numpy and cuts it to k with the list-probe core's ``_topk``, the tail
  ``_search`` uses too.

All three keep only the rows that have a cell (``functions/cells.py::
_on_globe``: lat and lng non-NULL and finite, |lat| ≤ 90). A point with a
NULL, non-finite or past-pole coordinate has no distance to anything, and
a query at one has no neighbours.

Used with points = tile centroids and queries = arbitrary lat/lng rows.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf, pandas_udf

from cog3pio_spark.cells import h3x
from cog3pio_spark.functions import cells as C
from cog3pio_spark.functions.geo import EARTH_RADIUS_M
from cog3pio_spark.operators.pip_join import _ragged
from cog3pio_spark.operators.probe import (
    MAX_QUERIES, PAIR_CHUNK, Scorer, _collect_query_batch, _search, _topk)
from cog3pio_spark.session import spread_small_scan

# target rows per sort-merge bucket once the corpus outgrows the shuffle
# partition count — bounds the pandas frame one kernel task materializes
_BUCKET_ROWS_TARGET = 2_000_000


def haversine_m(lat1, lng1, lat2, lng2):
    """Great-circle distance in meters — pure column math (codegen)."""
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlng = F.radians(lng2 - lng1)
    a = (
        F.sin(dlat / 2) ** 2
        + F.cos(rlat1) * F.cos(rlat2) * F.sin(dlng / 2) ** 2
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.sqrt(a))


def _haversine_np(lat1, lng1, lat2, lng2):
    """haversine_m over numpy arrays: the same operations in the same order."""
    rlat1, rlat2 = np.radians(lat1), np.radians(lat2)
    dlat = np.radians(lat2 - lat1)
    dlng = np.radians(lng2 - lng1)
    a = np.sin(dlat / 2) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(dlng / 2) ** 2
    return 2.0 * EARTH_RADIUS_M * np.arcsin(np.sqrt(a))


def knn_brute(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    point_id: str = "point_id",
) -> DataFrame:
    """Exact kNN by broadcast cross product — knn_join's brute tier and the
    correctness oracle for the ring join (q20 checks it against DuckDB).
    Returns (query_id, rank, point_id, dist_m)."""
    q = queries.filter(C._on_globe("lat", "lng")).select(
        query_id, F.col("lat").alias("q_lat"), F.col("lng").alias("q_lng"))
    # spread first: the cross join scores in as many tasks as the points
    # have partitions, one for a single-split input (no-op at real scale)
    p = spread_small_scan(points).filter(C._on_globe("lat", "lng")).select(
        point_id, F.col("lat").alias("p_lat"), F.col("lng").alias("p_lng"))
    w = Window.partitionBy(query_id).orderBy(F.col("dist_m").asc(), F.col(point_id).asc())
    return (
        F.broadcast(q)
        .crossJoin(p)
        .withColumn(
            "dist_m", haversine_m(F.col("q_lat"), F.col("q_lng"), F.col("p_lat"), F.col("p_lng"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, "rank", point_id, "dist_m")
    )


def knn_sort_merge(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    scan_width: int = 64,
    query_id: str = "query_id",
    point_id: str = "point_id",
    total_rows: int | None = None,
    cuts: list[int] | None = None,
) -> DataFrame:
    """Sort-merge kNN on the S2 Hilbert curve (SURVEY §2.B kNN fallback).

    Queries and points are unioned and bucketed into contiguous S2-leaf
    curve ranges (cut points from approxQuantile — the same sampling idea as
    Spark's RangePartitioner). Within each bucket, rows sort by
    (_cell, _is_q, _id) — a total order — and each query examines the
    ±``scan_width`` rows around it, ranking the points among them by exact
    haversine: a band join on curve position (Band Joins for Interval Data,
    EDBT 2020). Boundary correctness: the last/first ``scan_width`` rows of
    every bucket are duplicated as "ghost" rows into the adjacent bucket, so
    each in-bucket frame is EXACTLY the global curve-order frame (a frame
    overhangs a bucket edge by at most scan_width rows, which is precisely
    what the ghosts supply). Every non-ghost query lives in exactly one
    bucket, so the kernel's top-k cut (``_frame_topk``) is final: it emits
    (query_id, rank, point_id, dist_m) with no window after it.
    Precondition: every bucket holds ≥ scan_width rows — the bucket count is
    capped at total/(4·scan_width) so AVERAGE buckets are 4× over the
    minimum; a duplicate-heavy cell distribution (one cell value holding a
    large fraction of rows) can still pinch an individual bucket below
    scan_width, in which case frames near that bucket see slightly fewer
    than ±scan_width global-order rows (the operator is approximate anyway;
    the equality test pins parity on realistic data).

    Only rows with a cell take part (``C._on_globe``, the cell layer's
    rule): a point past a pole is no neighbour, and a query there gets no
    rows, as for a NULL, NaN or ±inf coordinate.

    Approximate: curve locality misses some true neighbors at curve
    discontinuities; recall is tuned by scan_width. Use when the query set
    is too large to broadcast and rings miss (sparse regions).
    """
    # _cell is the UNSIGNED curve key: s2_cell's int64 carrier stores uint64
    # ids two's-complement, so sorting the signed value directly would place
    # faces 4-5 before 0-3 — an artificial seam at the face 3|4 boundary
    # where true neighbors land outside every ±scan_width frame (r4 review;
    # functions/cells.py calls the signed order cosmetic, but THIS operator
    # relies on curve adjacency). XOR with the sign bit maps signed order to
    # uint order. ``cuts=`` hints are in this same flipped keyspace (any
    # monotone cut set is CORRECT regardless — cuts only shape buckets).
    cell = C.s2_cell(F.col("lat"), F.col("lng"), 30).bitwiseXOR(F.lit(-(1 << 63))).alias("_cell")
    q, p = (
        df.filter(C._on_globe("lat", "lng")).select(
            F.col(c).alias("_id"), F.lit(is_q).alias("_is_q"), "lat", "lng", cell)
        for df, c, is_q in ((queries, query_id, True), (points, point_id, False))
    )
    # Materialize the (id, is_q, lat, lng, cell) union ONCE: the bucket
    # count, the quantile cuts, the ghost branches and the window otherwise
    # each recompute the curve-key UDF scan (measured 11.8 s → 4 s at
    # sf0.1). localCheckpoint is per-call (no cross-run plan-cache reuse —
    # the CLAUDE.md persist() honesty concern doesn't apply) and truncates
    # lineage so all consumers read the materialized blocks.
    both = q.unionByName(p).localCheckpoint(eager=True)

    # --- bucket count: honor the >=scan_width-rows-per-bucket precondition.
    # Callers with table stats skip both preparatory jobs (VERDICT r2 #4):
    # ``total_rows=`` skips the count, ``cuts=`` (precomputed curve cut
    # points, e.g. from a previous run or partition metadata) skips count
    # AND approxQuantile; ``cuts=[]`` is one bucket. Ghost rows repair
    # ADJACENT-bucket boundaries, so supplied cuts inherit the same
    # precondition as the auto path: every INTERIOR bucket must hold ≥
    # scan_width rows. A thin middle bucket (fewer rows than scan_width
    # between two cuts) shrinks the frames that overhang it — empty/thin
    # EDGE buckets are harmless. Cut balance beyond that only affects task
    # skew, never correctness.
    spark = both.sparkSession
    if cuts is None:
        total = total_rows if total_rows is not None else both.count()
        default_p = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        # scale-adaptive bucket count (guide §2.2): the pandas kernel below
        # materializes one whole bucket per task (the JVM window it replaced
        # spilled), so bucket row count must stay bounded as total grows.
        # The floor total // _BUCKET_ROWS_TARGET is 0 at gate/bench scales
        # (total < target × shuffle partitions ⇒ identical bucketing to the
        # pre-floor code) and only engages where default_p would have put
        # millions of rows into one pandas frame. Any bucket count yields
        # the same result while interior buckets hold ≥ scan_width rows
        # (the ghost contract above); 2M-row buckets satisfy that hugely.
        floor = total // _BUCKET_ROWS_TARGET
        n_buckets = max(1, min(max(default_p, floor), total // (4 * scan_width)))
        if n_buckets > 1:
            cuts = both.stat.approxQuantile(
                "_cell", [i / n_buckets for i in range(1, n_buckets)], 1.0 / (10 * n_buckets)
            )
    # clamp: approxQuantile returns float64 and float(2^63-1) rounds UP to
    # 2^63, which overflows F.lit's long conversion (r4 review)
    int64_max = (1 << 63) - 1
    cuts = sorted({min(int(c), int64_max) for c in cuts}) if cuts else []
    bucket_expr = reduce(
        lambda acc, ic: F.when(F.col("_cell") <= F.lit(ic[1]), ic[0]).otherwise(acc),
        reversed(list(enumerate(cuts))),
        F.lit(len(cuts)),
    )
    both = both.withColumn("_bucket", bucket_expr)

    order_cols = [F.col("_cell"), F.col("_is_q"), F.col("_id")]
    wb = Window.partitionBy("_bucket").orderBy(*order_cols)
    wcnt = Window.partitionBy("_bucket")
    rows = (
        both.withColumn("_rn", F.row_number().over(wb))
        .withColumn("_n", F.count("*").over(wcnt))
        .withColumn("_ghost", F.lit(False))
    )
    if cuts:
        lo_ghosts = (
            rows.filter((F.col("_rn") <= scan_width) & (F.col("_bucket") > 0))
            .withColumn("_bucket", F.col("_bucket") - 1)
            .withColumn("_ghost", F.lit(True))
        )
        hi_ghosts = (
            rows.filter(
                (F.col("_rn") > F.col("_n") - scan_width)
                & (F.col("_bucket") < len(cuts))
            )
            .withColumn("_bucket", F.col("_bucket") + 1)
            .withColumn("_ghost", F.lit(True))
        )
        rows = rows.unionByName(lo_ghosts).unionByName(hi_ghosts)
    # _cell is never NULL: _on_globe keeps only the rows that have a cell (a
    # NULL would make Arrow deliver the whole bucket's _cell batch as
    # float64, rounding every level-30 carrier)
    rows = rows.drop("_rn", "_n")

    # curve-order neighborhood and top-k, one task per bucket (ghosts make
    # each frame identical to global curve order). r6 (guide §4.2): the
    # former Window.rowsBetween(-scan_width, scan_width) + collect_list
    # built a (2·scan_width+1)-struct ARRAY FOR EVERY ROW — queries AND
    # points — then threw away the ~95% of arrays belonging to point rows.
    id_type = both.schema["_id"].dataType
    out_schema = (
        T.StructType().add(query_id, id_type).add("rank", T.IntegerType())
        .add(point_id, id_type).add("dist_m", T.DoubleType())
    )
    sw = int(scan_width)
    return rows.groupBy("_bucket").applyInPandas(
        lambda pdf: _frame_topk(pdf, sw, k, query_id, point_id), out_schema)


def _frame_topk(
    pdf: pd.DataFrame, scan_width: int, k: int, query_id: str, point_id: str
) -> pd.DataFrame:
    """knn_sort_merge's kernel over one bucket: each non-ghost query's k
    nearest points among the ±``scan_width`` rows around it in the bucket's
    (_cell, _is_q, _id) order (unique keys — pandas/JVM sort parity is
    exact). Ghost points serve as frame members; ghost and other queries
    occupy frame positions but are never candidates. A query's frame points
    are a run of the sorted point positions (``searchsorted``), expanded
    with ``_ragged`` in slices of at most ``PAIR_CHUNK`` pairs, scored by
    haversine and cut by the list-probe core's ``_topk``."""
    if not np.issubdtype(pdf["_cell"].to_numpy().dtype, np.integer):
        raise TypeError(
            "sort-merge kNN kernel received a non-integer _cell batch "
            f"({pdf['_cell'].dtype}); a null slipped past _on_globe "
            "and the curve keys would be float64-rounded"
        )
    pdf = pdf.sort_values(["_cell", "_is_q", "_id"])
    isq = pdf["_is_q"].to_numpy()
    ids, lat, lng = (pdf[c].to_numpy() for c in ("_id", "lat", "lng"))
    qpos = np.nonzero(isq & ~pdf["_ghost"].to_numpy())[0]
    ppos = np.nonzero(~isq)[0]
    first = np.searchsorted(ppos, qpos - scan_width)
    count = np.searchsorted(ppos, qpos + scan_width + 1) - first
    step = max(1, PAIR_CHUNK // (2 * scan_width + 1))
    parts = []
    for lo in range(0, max(1, len(qpos)), step):  # one slice at least: an empty frame
        sl = slice(lo, lo + step)
        qi = np.repeat(qpos[sl], count[sl])
        pi = ppos[_ragged(first[sl], count[sl])]
        d = _haversine_np(lat[qi], lng[qi], lat[pi], lng[pi])
        o, rank = _topk(qi, ids[pi], -d, k)
        parts.append(pd.DataFrame(
            {query_id: ids[qi[o]], "rank": rank.astype(np.int32), point_id: ids[pi[o]],
             "dist_m": d[o]}))
    return pd.concat(parts, ignore_index=True)


def ring_exactness_bound(cells: np.ndarray, ring: int) -> np.ndarray:
    """Per-cell lower bound (meters) on the distance from any point in each
    of the h3x ``cells`` to any point OUTSIDE its k-ring coverage.

    Derivation: a point outside the ring lies in a cell at hex distance
    ≥ ring+1; center-to-center distance ≥ (ring+1)·d_min where d_min is the
    min neighbor-center spacing around the cell; subtract both cells'
    circumradii (≤ 0.7·d_max for near-regular hexes). The bound is further
    capped by the distance to the nearest cube-face edge: k-rings truncate
    at face boundaries (cells/h3x.py), so a true neighbor just across the
    edge is outside ring coverage at near-zero distance — without the cap a
    face-edge query could be falsely certified (ADVICE r1, medium).
    Conservative — a certified-exact result is therefore ALWAYS exact
    (tested incl. a face-edge fixture), at the cost of some exact results
    going uncertified near face edges.
    """
    arr = np.asarray(cells, dtype=np.int64)
    ring1 = h3x.k_ring(arr, 1)  # (n, 7): self + 6 neighbours
    n = arr.shape[0]
    all_cells = ring1.ravel()
    face, u, v = h3x.cell_center_uv(all_cells)
    # gnomonic (u,v) → unit sphere chord ≈ arc for small cells
    norm = np.sqrt(1.0 + u * u + v * v)
    # face-local 3D coords (face axes differ but within one ring the
    # face is constant, so pairwise angles are valid)
    x, y, z = 1.0 / norm, u / norm, v / norm
    xyz = np.stack([x, y, z], axis=1).reshape(n, 7, 3)
    # the SELF cell sits wherever k_ring's lexicographic delta enumeration
    # puts (0,0) — locate it by id, never by position (r4 review: assuming
    # index 0 measured 'neighbour' spacing from a ring cell, halving d_min
    # and collapsing the bound ~8x — still sound, but almost nothing could
    # be certified)
    self_mask = ring1 == arr[:, None]  # (n, 7)
    center = xyz[np.arange(n), self_mask.argmax(axis=1)][:, None, :]
    cosang = np.clip((xyz * center).sum(axis=2), -1, 1)
    d = np.arccos(cosang) * EARTH_RADIUS_M  # (n, 7) incl. self
    d = np.where(self_mask, np.nan, d)  # drop the zero self-distance
    d_min, d_max = np.nanmin(d, axis=1), np.nanmax(d, axis=1)
    ring_b = (1 + ring) * d_min - 1.4 * d_max
    # face-edge cap: in face-local coords the four edges are the great
    # circles y=±x, z=±x; the center's arc distance to the nearest is
    # asin((x - max(|y|,|z|)) / √2). Subtract the circumradius slack so any
    # cross-face point (which the ring cannot cover) is provably farther
    # than the capped bound.
    cx, cy, cz = center[:, 0, 0], center[:, 0, 1], center[:, 0, 2]
    s = (cx - np.maximum(np.abs(cy), np.abs(cz))) / np.sqrt(2.0)
    edge_b = np.arcsin(np.clip(s, 0.0, 1.0)) * EARTH_RADIUS_M - 1.4 * d_max
    return np.maximum(0.0, np.minimum(ring_b, edge_b))


def _cell_among(lat: Column, lng: Column, res: int, cells: np.ndarray) -> Column:
    """h3x cell at ``res`` of a finite (lat, lng) when it is one of the
    sorted ``cells``, else NULL: non-members join the cell functions' NULL
    mask in the same numpy pass as the cell math (a literal ``isin`` costs
    a py4j call per cell)."""

    def _u(la: pa.Array, ln: pa.Array) -> pa.Array:
        (la, ln), nulls = C._valid_rows(la, ln)
        c = h3x.latlng_to_cell(la, ln, res)
        pos = np.minimum(np.searchsorted(cells, c), len(cells) - 1)
        return C._masked(c, nulls | (cells[pos] != c))

    return arrow_udf(_u, T.LongType())(lat, lng)


def _looked_up(table: dict, key: Column) -> Column:
    """``table[key]`` as a DOUBLE column, from a driver-side dict."""

    @pandas_udf(T.DoubleType())
    def _u(keys: pd.Series) -> pd.Series:
        return keys.map(table).astype(np.float64)

    return _u(key)


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int = 5,
    res: int = 7,
    ring: int = 2,
    query_id: str = "query_id",
    point_id: str = "point_id",
    with_certificate: bool = False,
) -> DataFrame:
    """k nearest ``points`` for each query row, by hex k-ring probes.

    queries: (query_id, lat, lng); points: (point_id, lat, lng).
    Returns (query_id, rank, point_id, dist_m[, exact]).

    The finite queries are collected (at most MAX_QUERIES; bulk query sets
    belong to knn_sort_merge, and more raise ValueError). Each point's list
    is its h3x cell at ``res``; one histogram job counts the points in every
    cell of every query's ring ``3·ring``, and each query gets its tier on
    the driver:

    * ring ``ring`` when its cells hold ≥ k points;
    * else ring ``3·ring`` when those hold ≥ k;
    * else brute force (knn_brute) — sparse regions, and rings truncated at
      a cube-face edge (cells/h3x.py).

    One list-probe search (operators/probe.py, haversine scorer) serves both
    ring tiers. Exactness contract: results are exact when the true k-th
    neighbour lies inside the probed cells; brute-served queries are always
    exact. With ``with_certificate=True`` every row carries a provable
    ``exact`` flag: brute-served, or k-th distance ≤ ring_exactness_bound at
    the base ring (conservative — certified ⇒ truly exact; tests pin
    no-false-certificates against brute force).
    """
    # spread first: the cell UDF and the brute tier's cross join otherwise
    # run single-task on a single-split input (no-op at real scale)
    points = spread_small_scan(points)
    rows = _collect_query_batch(
        queries.filter(C._on_globe("lat", "lng")), [query_id, "lat", "lng"], MAX_QUERIES,
        "Use knn_sort_merge for bulk query sets.",
    )
    qids = pd.Series([r[0] for r in rows]).to_numpy()
    lat, lng = np.array([r[1:] for r in rows], dtype=np.float64).reshape(-1, 2).T
    served = np.zeros(len(rows), dtype=bool)
    if rows:
        cell = h3x.latlng_to_cell(lat, lng, res)
        base, wide = h3x.k_ring(cell, ring), h3x.k_ring(cell, 3 * ring)
        cells = np.unique(wide)
        ivf_list = _cell_among(F.col("lat"), F.col("lng"), res, cells).alias("ivf_list")
        encoded = points.filter(C._on_globe("lat", "lng")).select(
            point_id, ivf_list, "lat", "lng")
        # lazy: the histogram job fills the blocks and the search reads
        # them, so the scan, the spread and the cell UDF run once
        encoded = encoded.filter(F.col("ivf_list").isNotNull()).localCheckpoint(eager=False)
        hist = np.array(encoded.groupBy("ivf_list").count().collect(), np.int64).reshape(-1, 2)
        per_cell = np.zeros(len(cells), dtype=np.int64)
        per_cell[np.searchsorted(cells, hist[:, 0])] = hist[:, 1]
        n_base, n_wide = (per_cell[np.searchsorted(cells, c)].sum(axis=1) for c in (base, wide))
        served = n_wide >= k
    out = None
    if served.any():
        qlat, qlng = lat[served], lng[served]

        def neg_haversine(pdf, row, qi):
            plat, plng = pdf["lat"].to_numpy()[row], pdf["lng"].to_numpy()[row]
            return -_haversine_np(qlat[qi], qlng[qi], plat, plng)

        scorer = Scorer(neg_haversine, ("lat", "lng"), "_neg_m", (-F.col("_neg_m")).alias("dist_m"))
        probes = [b if n >= k else w for b, w, n in zip(base[served], wide[served], n_base[served])]
        out = _search(
            encoded, qids[served], queries.schema[query_id].dataType, probes, scorer, k,
            id_col=point_id, query_id_col=query_id,
        )
        if with_certificate:
            bound = dict(zip(qids[served].tolist(), ring_exactness_bound(cell[served], ring)))
            kth = F.max("dist_m").over(Window.partitionBy(query_id))
            out = out.withColumn("exact", kth <= _looked_up(bound, F.col(query_id)))
    if out is None or not served.all():
        brute_q = [r for r, s in zip(rows, served) if not s]
        schema = queries.select(query_id, "lat", "lng").schema
        brute = knn_brute(queries.sparkSession.createDataFrame(brute_q, schema), points, k,
                          query_id, point_id)
        if with_certificate:
            brute = brute.withColumn("exact", F.lit(True))
        out = brute if out is None else out.unionByName(brute)
    return out
